"""Driver-checkable queries for the io/runner lifecycle layer (SURVEY
§2.1-§2.2, §2.8, §2.11 — the reference's ETL identity).

File-lifecycle semantics can't run inside a DuckDB oracle, so each query
builds its fixtures under a per-query scratch dir (``.tmp/`` in the repo,
overwritten per run — the returned DataFrame reads those files lazily, so
they must outlive the function), exercises the REAL io/runner code, and
returns either:

- an oracle-checked frame (roundtrips land parquet-table-derived data back
  through Excel/CSV/sink paths, so DuckDB can recompute the expectation
  from the same parquet), or
- a rows-only frame of deterministic lifecycle outcomes (the pytest suite
  in tests/ asserts the same transitions in depth).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_excel_csv_sql_spark.plans.registry import register

_SCRATCH_ROOT = os.path.join(os.path.dirname(__file__), "..", "..", ".tmp")


def _scratch(name: str) -> str:
    path = os.path.abspath(os.path.join(_SCRATCH_ROOT, name))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def _scratch_keep(name: str) -> str:
    """Scratch dir that SURVIVES across invocations — for build-once
    artifacts (the persisted IVF index) whose whole point is that repeat
    calls reuse the committed build instead of rebuilding."""
    path = os.path.abspath(os.path.join(_SCRATCH_ROOT, name))
    os.makedirs(path, exist_ok=True)
    return path


def _customer_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return df.filter(F.col("c_custkey") < 50).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


_CUSTOMER_ORACLE = """
    SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name, c_mktsegment
    FROM customer WHERE c_custkey < 50
"""


@register(
    "excel_roundtrip",
    _CUSTOMER_ORACLE,
    doc="S1/S2/K1: customer subset → .xlsx (stdlib writer) → sheet scan with "
    "header offset (row 2, banner row above) → all-string frame; value-level "
    "parity proves the Excel source end-to-end (ExcelToCSVexport.ps1:171,192)",
)
def q_excel_roundtrip(spark, sf_dir):
    from etl_excel_csv_sql_spark.io import xlsx
    from etl_excel_csv_sql_spark.io.excel import read_excel_sheet

    scratch = _scratch("excel_roundtrip")
    rows = _customer_subset(spark, sf_dir).collect()
    book = os.path.join(scratch, "customers.xlsx")
    xlsx.write_workbook(
        book,
        {
            "Customers": [
                ["exported by engine", None, None],  # banner → StartRow=2
                ["c_custkey", "c_name", "c_mktsegment"],
                *[[r.c_custkey, r.c_name, r.c_mktsegment] for r in rows],
            ]
        },
    )
    return read_excel_sheet(spark, book, "Customers", header_row=2)


@register(
    "excel_multisheet_roundtrip",
    """
    SELECT 'Customers' AS sheet, CAST(c_custkey AS VARCHAR) AS row_key,
           c_name AS row_value
    FROM customer WHERE c_custkey < 50
    UNION ALL
    SELECT 'Orders' AS sheet, CAST(o_orderkey AS VARCHAR) AS row_key,
           o_orderstatus AS row_value
    FROM orders WHERE o_orderkey < 100
    """,
    doc="S1/S2/P5/J3/K1/T1 e2e: one workbook, THREE sheets (one not "
    "configured), banner row above headers → the full export_excel_to_csv "
    "pipeline (watermark gate, sheet-catalog, trimmed/case-insensitive "
    "match, StartRow=2 reads, per-sheet CSV sinks) → both exported CSVs "
    "read back and tagged; per-sheet value parity against the source "
    "parquet (ExcelToCSVexport.ps1:175-218)",
)
def q_excel_multisheet(spark, sf_dir):
    from etl_excel_csv_sql_spark.io import csv_io, xlsx
    from etl_excel_csv_sql_spark.runner.pipeline import (
        ExcelExportJob,
        export_excel_to_csv,
    )
    from etl_excel_csv_sql_spark.runner.watermark import WatermarkStore

    scratch = _scratch("excel_multisheet")
    cust = _customer_subset(spark, sf_dir).collect()
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") < 100)
        .select("o_orderkey", "o_orderstatus")
        .collect()
    )
    book = os.path.join(scratch, "book.xlsx")
    banner = ["exported by engine", None]
    xlsx.write_workbook(
        book,
        {
            "Customers": [
                banner + [None],
                ["c_custkey", "c_name", "c_mktsegment"],
                *[[r.c_custkey, r.c_name, r.c_mktsegment] for r in cust],
            ],
            "Orders": [
                banner,
                ["o_orderkey", "o_orderstatus"],
                *[[r.o_orderkey, r.o_orderstatus] for r in orders],
            ],
            "Scratchpad": [["not", "configured"]],  # must NOT export
        },
    )
    job = ExcelExportJob(
        source_name="book",
        workbook_path=book,
        sheets=[" customers ", "ORDERS"],  # trimmed, case-insensitive match
        header_row=2,
        csv_out_dir=os.path.join(scratch, "out"),
        error_dir=os.path.join(scratch, "err"),
        watermarks=WatermarkStore(os.path.join(scratch, "state")),
    )
    result = export_excel_to_csv(spark, job)
    assert result["exported"] == ["Customers", "Orders"], result
    cust_csv = csv_io.read_csv_all_string(
        spark, os.path.join(scratch, "out", "Customers.csv")
    )
    ord_csv = csv_io.read_csv_all_string(
        spark, os.path.join(scratch, "out", "Orders.csv")
    )
    return cust_csv.select(
        F.lit("Customers").alias("sheet"),
        F.col("c_custkey").alias("row_key"),
        F.col("c_name").alias("row_value"),
    ).unionByName(
        ord_csv.select(
            F.lit("Orders").alias("sheet"),
            F.col("o_orderkey").alias("row_key"),
            F.col("o_orderstatus").alias("row_value"),
        )
    )


@register(
    "excel_arrow_stage_roundtrip",
    _CUSTOMER_ORACLE,
    doc="S1/S2 scale path: customer subset → .xlsx → "
    "stage_workbook_to_parquet — per-sheet PROCESS-pool parse + pyarrow "
    "parquet write — → Spark reads the staged parquet; value parity "
    "proves the staged layout byte-equivalent to the driver-side sheet "
    "scan (same oracle as excel_roundtrip)",
)
def q_excel_arrow_stage(spark, sf_dir):
    from etl_excel_csv_sql_spark.io import xlsx
    from etl_excel_csv_sql_spark.io.excel import stage_workbook_to_parquet

    scratch = _scratch("excel_arrow_stage")
    rows = _customer_subset(spark, sf_dir).collect()
    book = os.path.join(scratch, "customers.xlsx")
    xlsx.write_workbook(
        book,
        {
            "Customers": [
                ["exported by engine", None, None],  # banner → StartRow=2
                ["c_custkey", "c_name", "c_mktsegment"],
                *[[r.c_custkey, r.c_name, r.c_mktsegment] for r in rows],
            ]
        },
    )
    staged = stage_workbook_to_parquet(
        book, os.path.join(scratch, "staged"), header_row=2
    )
    return spark.read.parquet(staged["Customers"])


@register(
    "csv_roundtrip",
    _CUSTOMER_ORACLE,
    doc="S3/K1: customer subset → single-file UTF-8 CSV (Export-Csv parity) "
    "→ Import-Csv-style all-string read (CSVtoSQLimport.ps1:210)",
)
def q_csv_roundtrip(spark, sf_dir):
    from etl_excel_csv_sql_spark.io import csv_io

    scratch = _scratch("csv_roundtrip")
    path = os.path.join(scratch, "customers.csv")
    df = _customer_subset(spark, sf_dir).select(
        F.col("c_custkey").cast("string"), "c_name", "c_mktsegment"
    )
    csv_io.write_csv_single(df, path)
    return csv_io.read_csv_all_string(spark, path)


@register(
    "jdbc_fullrefresh_roundtrip",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_custkey < 100
    """,
    doc="K4/§2.10: TRUNCATE+INSERT full-refresh sink — stale contents are "
    "refreshed away, then the real subset lands; read-back must equal the "
    "source subset (CSVtoSQLimport.ps1:197-207,239 as one batched write)",
)
def q_jdbc_fullrefresh(spark, sf_dir):
    from etl_excel_csv_sql_spark.io.jdbc import ParquetFullRefreshSink

    scratch = _scratch("jdbc_fullrefresh")
    sink = ParquetFullRefreshSink(os.path.join(scratch, "orders_tbl"))
    stale = spark.createDataFrame(
        [(-1, "X", 0.0)], ["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    sink.full_refresh(stale)  # contents that TRUNCATE must remove
    fresh = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_custkey") < 100)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    sink.full_refresh(fresh)
    return sink.read(spark)


# [seq, last_db_path]: the ACTUAL previous database path is stored, not
# reconstructed from the current sf_dir (r10 ADVICE) — mixed-scale soak
# sessions (sf0.01 then sf0.1) would otherwise shut down a nonexistent
# path while the real prior engine stayed booted.
_DERBY_RUN_SEQ: list = [0, None]


@register(
    "jdbc_live_roundtrip",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_custkey < 100
    """,
    doc="S5/K4 against a REAL database: Spark bundles Derby (Hive "
    "metastore), so the JdbcFullRefreshSink TRUNCATE+INSERTs into an "
    "embedded Derby table over a live JDBC connection (stale contents "
    "first, proving the refresh), and the read-back comes over JDBC too. "
    "The reference's SQL-Server deployment shape end-to-end "
    "(CSVtoSQLimport.ps1:183-245) minus per-row INSERT round-trips",
)
def q_jdbc_live_roundtrip(spark, sf_dir):
    from etl_excel_csv_sql_spark.io.jdbc import JdbcFullRefreshSink

    # Unique path per call: embedded Derby caches booted databases per
    # JVM, so wiping and recreating the SAME path within one session would
    # hand back a cached engine over deleted files. A fresh path per call
    # sidesteps the boot cache; stale dirs from prior sessions are wiped
    # when their (name, seq) recurs in a new JVM.
    #
    # The PREVIOUS run's database is shut down first (r10 review):
    # embedded Derby keeps every booted database's page cache and file
    # handles alive for the JVM's lifetime, so a soak session booted
    # engines without bound. ';shutdown=true' raises 08006 on success —
    # Derby's documented contract, not an error — and the prior
    # invocation's frame has already been consumed by the driver gate.
    prev_db = _DERBY_RUN_SEQ[1]
    if prev_db:
        try:
            jvm = spark._jvm
            jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{os.path.abspath(prev_db)};shutdown=true"
            )
        except Exception:
            pass  # 08006 "database shut down" IS the success signal
    _DERBY_RUN_SEQ[0] += 1
    scratch = _scratch(
        f"jdbc_derby_{os.path.basename(sf_dir.rstrip('/'))}_{_DERBY_RUN_SEQ[0]}"
    )
    _DERBY_RUN_SEQ[1] = os.path.join(scratch, "db")
    url = f"jdbc:derby:{os.path.join(scratch, 'db')};create=true"
    opts = {
        "driver": "org.apache.derby.jdbc.EmbeddedDriver",
        # Derby's dialect maps StringType to CLOB; pin VARCHAR so the
        # column behaves like the reference's NVARCHAR targets
        "createTableColumnTypes": "o_orderstatus VARCHAR(8)",
    }
    sink = JdbcFullRefreshSink(
        url=url, table="orders_tbl", options=opts, num_partitions=1
    )
    stale = spark.createDataFrame(
        [(-1, "X", 0.0)], ["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    sink.full_refresh(stale)
    fresh = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_custkey") < 100)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    sink.full_refresh(fresh)
    return spark.read.format("jdbc").options(
        url=url, dbtable="orders_tbl", **opts
    ).load()


@register(
    "ann_ivf_persisted_topk",
    # r12 (VERDICT r11 #5): rows-only → FULL value oracle via planted
    # cluster geometry + the new bring-your-own-centroids build path:
    # corpus vector i = one-hot axis e_{i mod 16} (same row count and
    # dim as embeddings.parquet), centroids = the 16 axes verbatim, so
    # assignment is exactly vec_id mod 16 (cosine 1 vs 0, float-exact,
    # no ties), every query's true top-10 lives in its own always-
    # probed cell, and the expected result is the literal enumeration
    # below: neighbors q + 16j (j = 0..9) at cosine exactly 1.0, ranked
    # by id asc (_rank_key tie-break). test_similarity pins IVF ==
    # brute-force on this corpus. Bench series note: r12 changes the
    # corpus from raw embeddings + Lloyd build to planted one-hots +
    # provided centroids (probe plan shape and index layout unchanged,
    # build pass no longer pays k-means) — r4-r11 values are not
    # comparable; see bench.py HEADLINE comment.
    """
    SELECT e.vec_id AS query_id,
           e.vec_id + 16 * j.j AS neighbor_id,
           CAST(1.0 AS DOUBLE) AS cosine,
           CAST(j.j + 1 AS INT) AS rank
    FROM embeddings e,
         (SELECT unnest(generate_series(0, 9)) AS j) j
    WHERE e.vec_id < 5
    """,
    doc="the production ANN shape: IvfIndex.build persists the corpus "
    "parquet PARTITIONED BY cell_id + a centroid table (bring-your-own "
    "centroids, the FAISS train-offline/index-online split), then query "
    "probes only the n_probe cells via a partition-pruned scan "
    "(~n_probe/n_cells of index bytes touched). Planted cluster "
    "geometry makes the top-k closed-form — full value oracle; pytest "
    "asserts partition pruning on the plan and IVF==brute-force parity",
)
def q_ann_ivf_persisted(spark, sf_dir):
    from etl_excel_csv_sql_spark.operators.similarity import (
        IvfIndex,
        synth_cluster_centroids,
        synth_cluster_embeddings,
    )

    ids = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id")
    corpus = synth_cluster_embeddings(ids)
    idx = IvfIndex(
        os.path.join(
            _scratch_keep(
                "ivf_planted_" + os.path.basename(sf_dir.rstrip("/"))
            ),
            "idx",
        )
    )
    # build-once: repeat invocations (bench second pass, window re-runs)
    # skip the partitioned rewrite and pay probe cost only
    idx.build(
        corpus,
        n_cells=16,
        skip_if_exists=True,
        centroids=synth_cluster_centroids(spark),
    )
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = idx.query(queries, k=10, n_probe=4)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cosine"), 6).alias("cosine"),
        "rank",
    )


_STREAM_RUN_SEQ = [0]


def _next_sink_name(spark, prefix: str) -> str:
    """Allocate a fresh memory-sink table name and DROP any prior run's
    view with the same prefix: the memory sink retains its FULL result
    on the driver for as long as the temp view references it, so reruns
    (bench double passes, repeated gate rounds) used to accumulate one
    complete result copy per invocation until JVM exit (r10 review)."""
    _STREAM_RUN_SEQ[0] += 1
    name = f"{prefix}_{_STREAM_RUN_SEQ[0]}"
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix + "_") and t.name != name:
            spark.catalog.dropTempView(t.name)
    return name


@register(
    "events_tumbling_streaming",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    doc="Structured Streaming end-to-end with the SAME oracle as the batch "
    "twin (events_tumbling_hourly): the events table replayed through "
    "readStream → withWatermark → windowed agg → complete-mode memory sink "
    "under an availableNow trigger. Complete mode over a bounded replay "
    "equals the batch aggregate exactly, so the streaming path gets a "
    "value-level correctness check, not just a pytest smoke",
)
def q_events_tumbling_streaming(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.streaming.windows import stream_tumbling_agg

    scratch = _scratch("events_streaming_" + os.path.basename(sf_dir.rstrip("/")))
    src = os.path.join(scratch, "events_in")
    load_table(spark, sf_dir, "events").select("ts", "event_type", "value").write.mode(
        "overwrite"
    ).parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = stream_tumbling_agg(stream, "ts", "1 hour", watermark="2 hours")
    sink_name = _next_sink_name(spark, "evt_tumbling_stream")
    (
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink_name).select(
        "window_start", "event_type", "n_events", "sum_value"
    )


@register(
    "events_streaming_dedup",
    """
    SELECT event_id, event_type,
           CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS value
    FROM events
    """,
    doc="streaming exactly-once by key, end-to-end: the events table is "
    "replayed DUPLICATED (unioned with itself) through readStream → "
    "dropDuplicates(event_id) → append-mode memory sink (availableNow). "
    "Exact parity with SELECT-all-events proves every duplicate was "
    "dropped and nothing else — the consume-once guarantee (T2/T3) in its "
    "streaming form",
)
def q_events_streaming_dedup(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.streaming.dedup import dedupe_stream_forever

    scratch = _scratch(
        "events_stream_dedup_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "events_in")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("value").cast("decimal(18,4)").cast("double").alias("value"),
    )
    ev.unionAll(ev).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    deduped = dedupe_stream_forever(stream, ["event_id"])
    sink_name = _next_sink_name(spark, "evt_dedup_stream")
    (
        deduped.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink_name).select("event_id", "event_type", "value")


def _write_single_parquet(df: DataFrame, scratch: str, dst: str, mtime: int) -> None:
    """Materialize ``df`` as EXACTLY one parquet file at ``dst`` with a
    pinned mtime — the file-stream source orders files by modification
    time, so pinned mtimes make the micro-batch sequence deterministic."""
    import glob as _glob

    tmp = os.path.join(scratch, os.path.basename(dst) + "_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = _glob.glob(os.path.join(tmp, "part-*.parquet"))
    shutil.copyfile(part, dst)
    os.utime(dst, (mtime, mtime))
    shutil.rmtree(tmp)


@register(
    "events_session_streaming",
    # The batch-twin oracle of events_session_native, restricted to the
    # sessions the STREAM is allowed to emit: (a) late rows (an injected
    # micro-batch shifted -1000 h, far below the established watermark)
    # are dropped, so sessions come from the original events only;
    # (b) append mode emits a session only once the final watermark
    # (max ts - 1 h delay) passes its end, mirrored by the WHERE on
    # s_end. If the watermark failed to drop the late batch, ~150 ghost
    # sessions 41 days in the past would all finalize and break parity.
    # Spark evaluates the late-row filter with the PREVIOUS batch's
    # watermark (two-watermark semantics, SPARK-24634), so the replay
    # inserts an empty middle batch: b0 establishes the watermark, b1
    # (empty) lets it take effect for late filtering, b2's late rows hit
    # the armed filter. Without b1 the late batch would be accepted.
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts) AS session_seq
      FROM flagged
    ), sessions AS (
      SELECT user_id, min(ts) AS s_start,
             max(ts) + INTERVAL 30 MINUTE AS s_end,
             count(*) AS n_events
      FROM sess GROUP BY user_id, session_seq
    )
    SELECT user_id,
           strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events
    FROM sessions
    -- Spark computes watermarks in MILLISECONDS: truncate max(ts)
    -- like the stream-stream join oracles do, or a session ending in
    -- the sub-millisecond sliver counts here but is not yet finalized
    -- by the append-mode sink (latent per-fixture gate flake)
    WHERE s_end <= (
      SELECT date_trunc('millisecond', max(ts)) - INTERVAL 1 HOUR
      FROM events
    )
    """,
    doc="streaming session windows with LATE-DATA evidence: events replay "
    "as two deterministic micro-batches (maxFilesPerTrigger=1, pinned "
    "mtimes) — batch 1 the real table, batch 2 the same rows shifted "
    "-1000 h (all below the watermark). Append-mode F.session_window "
    "must drop every late row and emit exactly the finalized sessions "
    "of batch 1; the oracle value-checks both effects",
)
def q_events_session_streaming(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.streaming.windows import stream_session_agg

    scratch = _scratch(
        "events_stream_session_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "in")
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    late = ev.withColumn("ts", F.col("ts") - F.expr("INTERVAL 1000 HOURS"))
    empty = ev.limit(0)
    _write_single_parquet(ev, scratch, os.path.join(src, "b0.parquet"), 1_000)
    _write_single_parquet(empty, scratch, os.path.join(src, "b1_arm.parquet"), 2_000)
    _write_single_parquet(late, scratch, os.path.join(src, "b2_late.parquet"), 3_000)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(src)
    )
    sessions = stream_session_agg(
        stream, "ts", "user_id", gap="30 minutes", watermark="1 hour"
    )
    sink_name = _next_sink_name(spark, "evt_session_stream")
    (
        sessions.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")  # only watermark-finalized sessions emit
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink_name).select(
        "user_id", "session_start", "session_end", "n_events"
    )


@register(
    "events_stream_stream_join",
    # Inner stream-stream joins emit each pair as soon as both rows have
    # arrived — no watermark finalization wait — so over a bounded replay
    # the streaming output equals the batch join EXACTLY, and the batch
    # twin's SQL is a full value oracle for the streaming path.
    """
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
    FROM events c JOIN events v
      ON c.event_type = 'click' AND v.event_type = 'view'
     AND c.user_id = v.user_id
     AND v.ts > c.ts AND v.ts <= c.ts + INTERVAL 4 HOUR
    """,
    doc="stream-stream interval join e2e: clicks and views replay as two "
    "readStream sources, joined on user with a (0, 4h] event-time range "
    "condition and watermarks on both sides (state evicts at one horizon "
    "per side instead of buffering the streams forever); append-mode "
    "memory sink under availableNow equals the batch join row-for-row",
)
def q_events_stream_stream_join(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    scratch = _scratch(
        "events_stream_join_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "in")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    ev.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def side(event_type: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .filter(F.col("event_type") == event_type)
        )

    joined = stream_stream_interval_join(
        side("click"), side("view"), "user_id", "ts",
        interval="4 hours", watermark="8 hours",
    ).select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("view_id"),
        F.col("l.user_id").alias("user_id"),
        F.date_format(F.col("l.ts"), "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format(F.col("r.ts"), "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
    )
    sink_name = _next_sink_name(spark, "evt_ss_join")
    (
        joined.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink_name).select(
        "click_id", "view_id", "user_id", "click_ts", "view_ts"
    )


@register(
    "events_stream_stream_left_join",
    # Matched pairs emit immediately (== the batch join); unmatched left
    # rows emit with nulls only once the global watermark — min across
    # both sides of (ms-truncated max event time − 8 h) — passes STRICTLY
    # beyond click_ts + 4 h (boundary calibrated empirically: rows at
    # exact equality stay buffered). The oracle mirrors both rules.
    """
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
         v AS (SELECT * FROM events WHERE event_type = 'view'),
         wm AS (
           SELECT least(date_trunc('millisecond', (SELECT max(ts) FROM c)),
                        date_trunc('millisecond', (SELECT max(ts) FROM v)))
                  - INTERVAL 8 HOUR AS w
         )
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
    FROM c JOIN v
      ON c.user_id = v.user_id
     AND v.ts > c.ts AND v.ts <= c.ts + INTERVAL 4 HOUR
    UNION ALL
    SELECT c.event_id, CAST(NULL AS BIGINT), c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S'), CAST(NULL AS VARCHAR)
    FROM c, wm
    WHERE NOT EXISTS (
            SELECT 1 FROM v
            WHERE v.user_id = c.user_id
              AND v.ts > c.ts AND v.ts <= c.ts + INTERVAL 4 HOUR
          )
      AND c.ts + INTERVAL 4 HOUR < wm.w
    """,
    doc="LEFT-OUTER stream-stream interval join e2e: matched pairs emit "
    "on arrival; never-matched clicks emit (click, null) once the global "
    "min-watermark strictly passes click_ts + interval — watermark-"
    "finalized outer results, value-checked by an oracle that rebuilds "
    "the same watermark arithmetic",
)
def q_events_stream_stream_left_join(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    scratch = _scratch(
        "events_stream_ljoin_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "in")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    ev.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def side(event_type: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .filter(F.col("event_type") == event_type)
        )

    joined = stream_stream_interval_join(
        side("click"), side("view"), "user_id", "ts",
        interval="4 hours", watermark="8 hours", how="left_outer",
    ).select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("view_id"),
        F.col("l.user_id").alias("user_id"),
        F.date_format(F.col("l.ts"), "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format(F.col("r.ts"), "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
    )
    sink_name = _next_sink_name(spark, "evt_ss_ljoin")
    (
        joined.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink_name).select(
        "click_id", "view_id", "user_id", "click_ts", "view_ts"
    )


@register(
    "events_stateful_running_totals",
    # Two deterministic micro-batches (even event_ids, then odd): per
    # batch the custom state operator emits one row per appearing user
    # with (events this batch, lifetime total). The oracle rebuilds both
    # batches' emissions - the second batch's totals prove state CARRIED
    # between batches (a stateless operator would emit b1.n, not
    # b0.n + b1.n).
    """
    WITH b0 AS (
      SELECT user_id, count(*) AS n FROM events
      WHERE event_id % 2 = 0 GROUP BY user_id
    ), b1 AS (
      SELECT user_id, count(*) AS n FROM events
      WHERE event_id % 2 = 1 GROUP BY user_id
    )
    SELECT user_id, n AS batch_events, n AS total_events FROM b0
    UNION ALL
    SELECT b1.user_id, b1.n AS batch_events,
           b1.n + COALESCE(b0.n, 0) AS total_events
    FROM b1 LEFT JOIN b0 USING (user_id)
    """,
    doc="custom stateful streaming e2e (applyInPandasWithState): per-user "
    "running totals across two deterministic micro-batches, update-mode "
    "memory sink under availableNow. The oracle value-checks that state "
    "persisted across batches - lifetime totals in batch 2 include "
    "batch 1's counts",
)
def q_events_stateful_running_totals(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.streaming.stateful import running_user_totals

    scratch = _scratch(
        "events_stateful_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "in")
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    _write_single_parquet(
        ev.filter(F.col("event_id") % 2 == 0), scratch,
        os.path.join(src, "b0.parquet"), 1_000,
    )
    _write_single_parquet(
        ev.filter(F.col("event_id") % 2 == 1), scratch,
        os.path.join(src, "b1.parquet"), 2_000,
    )
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    totals = running_user_totals(stream, "user_id")
    sink_name = _next_sink_name(spark, "evt_stateful")
    (
        totals.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink_name).select(
        "user_id", "batch_events", "total_events"
    )


@register(
    "warehouse_bucketed_join",
    """
    SELECT c.c_custkey, c.c_mktsegment, count(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 0)
                AS DOUBLE) AS total_spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
    doc="co-bucketed warehouse join e2e: customer and orders written as "
    "bucketBy(8, key) managed tables, then joined shuffle-free (no "
    "Exchange on either side — asserted by test_warehouse) and "
    "aggregated; the oracle is the plain join, proving bucketing changes "
    "the plan, never the result",
)
def q_warehouse_bucketed_join(spark, sf_dir):
    from etl_excel_csv_sql_spark.io.warehouse import (
        cobucketed_join,
        write_bucketed_table,
    )

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    cust_t, ord_t = f"wh_customer_{tag}", f"wh_orders_{tag}"
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_bucketed_table(cust, cust_t, ["c_custkey"], 8, sort_cols=["c_custkey"])
    write_bucketed_table(orders, ord_t, ["o_custkey"], 8, sort_cols=["o_custkey"])
    joined = cobucketed_join(spark, cust_t, ord_t, "c_custkey", "o_custkey", "left")
    return joined.groupBy("c_custkey", "c_mktsegment").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.coalesce(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")), F.lit(0)
        ).cast("double").alias("total_spend"),
    )


@register(
    "quarantine_split_rows",
    """
    WITH mixed AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN CAST(c_custkey * 10 AS VARCHAR)
                  ELSE c_name END AS raw_value
      FROM customer
    )
    SELECT c_custkey, TRY_CAST(raw_value AS DOUBLE) AS raw_value, 'good' AS side
    FROM mixed WHERE TRY_CAST(raw_value AS DOUBLE) IS NOT NULL
    UNION ALL
    SELECT c_custkey, NULL AS raw_value, 'quarantined' AS side
    FROM mixed WHERE TRY_CAST(raw_value AS DOUBLE) IS NULL
    """,
    doc="T3: typed-cast row quarantine — poison cells route to the reject "
    "frame, clean rows carry the typed cast; TRY_CAST twin on both engines "
    "(CSVtoSQLimport.ps1:242-251 as a pre-write split)",
)
def q_quarantine_split(spark, sf_dir):
    from etl_excel_csv_sql_spark.io.jdbc import quarantine_split

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    mixed = cust.select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 3 == 0, (F.col("c_custkey") * 10).cast("string")
        )
        .otherwise(F.col("c_name"))
        .alias("raw_value"),
    )
    good, bad = quarantine_split(mixed, {"raw_value": "double"})
    return good.withColumn("side", F.lit("good")).unionByName(
        bad.select(
            "c_custkey", F.lit(None).cast("double").alias("raw_value")
        ).withColumn("side", F.lit("quarantined"))
    )


@register(
    "settings_catalog",
    None,  # fixture files, no oracle table — deterministic rows-only
    doc="S4/S6/F7: settings discovery + key=value parse (both '=' and '==' "
    "delimiters) + source-name derivation from the filename "
    "(CSVtoSQLimport.ps1:96,140-143,158)",
)
def q_settings_catalog(spark, sf_dir):
    from etl_excel_csv_sql_spark.io.settings import discover_settings

    scratch = _scratch("settings_catalog")
    with open(os.path.join(scratch, "orders_import_settings.txt"), "w") as fh:
        fh.write("importTable==dbo.Orders\nimportTablePK==OrderId\n")
    with open(os.path.join(scratch, "book_export_settings.txt"), "w") as fh:
        fh.write("sheetsToExport=Invoices, Orders \nheaderRow=2\n")
    rows = [
        (e.source_name, key, value)
        for suffix in ("_import_settings.txt", "_export_settings.txt")
        for e in discover_settings(scratch, suffix)
        for key, value in sorted(e.values.items())
    ]
    return spark.createDataFrame(rows, ["source_name", "key", "value"])


@register(
    "watermark_lifecycle",
    None,
    doc="S7/K7/P6/T1: mtime watermark gate — pending before commit, gated "
    "after, pending again on touch; commit-after-success ordering "
    "(ExcelToCSVexport.ps1:146-165,222-225)",
)
def q_watermark_lifecycle(spark, sf_dir):
    import time

    from etl_excel_csv_sql_spark.runner.watermark import WatermarkStore

    scratch = _scratch("watermark_lifecycle")
    data = os.path.join(scratch, "book.xlsx")
    with open(data, "w") as fh:
        fh.write("payload")
    store = WatermarkStore(os.path.join(scratch, "state"))
    steps = [("initial", store.should_process("book", data))]
    store.commit("book", data)
    steps.append(("after_commit", store.should_process("book", data)))
    later = time.time() + 60
    os.utime(data, (later, later))
    steps.append(("after_touch", store.should_process("book", data)))
    return spark.createDataFrame(steps, ["step", "pending"])


@register(
    "folder_queue_lifecycle",
    None,
    doc="T2/T3/K5/K6: drop-folder drain — success archives with timestamp "
    "prefix, failure logs and stays queued (CSVtoSQLimport.ps1:158-168,"
    "242-264)",
)
def q_folder_queue_lifecycle(spark, sf_dir):
    from etl_excel_csv_sql_spark.runner.folder_queue import FolderQueue

    scratch = _scratch("folder_queue")
    drop = os.path.join(scratch, "drop")
    os.makedirs(drop)
    for name in ("good.csv", "poison.csv"):
        with open(os.path.join(drop, name), "w") as fh:
            fh.write("pk\n1\n")
    queue = FolderQueue(
        drop_dir=drop,
        processed_dir=os.path.join(scratch, "Processed"),
        error_dir=os.path.join(scratch, "Error"),
    )

    def handler(path: str) -> None:
        if "poison" in path:
            raise RuntimeError("simulated row failure")

    results = queue.process_all(handler)
    rows = sorted(
        (os.path.basename(p), outcome.value) for p, outcome in results.items()
    )
    rows.append(("poison.csv still queued", str("poison.csv" in
                                                [os.path.basename(x) for x in queue.pending()])))
    return spark.createDataFrame(rows, ["file", "outcome"])


@register(
    "retention_sweep_report",
    None,
    doc="§2.11: age-based retention sweep (dry-run report) — implements the "
    "intent FileHousekeeping.ps1:3-13 declares but never ships",
)
def q_retention_sweep(spark, sf_dir):
    import time

    from etl_excel_csv_sql_spark.runner.retention import retention_sweep

    scratch = _scratch("retention")
    now = time.time()
    for name, age_days in (("ancient.csv", 45.0), ("recent.csv", 2.0)):
        path = os.path.join(scratch, name)
        with open(path, "w") as fh:
            fh.write("x")
        mtime = now - age_days * 86400
        os.utime(path, (mtime, mtime))
    swept = retention_sweep([scratch], max_age_days=30, delete=False, now=now)
    # presence in the swept list IS the would-delete decision; the
    # SweptFile.deleted flag records what a live sweep DID (always
    # False in a dry run) — reporting it under 'would_delete' inverted
    # the §2.11 semantics for every aged file (r10 review)
    rows = [
        (os.path.basename(s.path), int(round(s.age_days)), True)
        for s in swept
    ]
    rows.append(("recent.csv", -1, False))  # explicit: untouched
    return spark.createDataFrame(rows, ["file", "age_days", "would_delete"])


@register(
    "salted_join_equivalence",
    """
    SELECT o_orderkey, o_custkey, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_custkey < 200
    """,
    doc="salted skew join (salt=8) must produce exactly the plain equi-join "
    "result — the oracle IS the unsalted join (relational.salted_join)",
)
def q_salted_join(spark, sf_dir):
    from etl_excel_csv_sql_spark.operators.relational import salted_join

    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_custkey") < 200)
        .select("o_orderkey", "o_custkey")
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    return salted_join(orders, cust, "o_custkey", "c_custkey", salt=8)


@register(
    "merge_upsert_roundtrip",
    """
    WITH inc1 AS (
      SELECT o_orderkey, 'v1' AS version FROM orders WHERE o_orderkey < 1000
    ), inc2 AS (
      SELECT o_orderkey, 'v2' AS version FROM orders
      WHERE o_orderkey >= 500 AND o_orderkey < 1500
    )
    SELECT o_orderkey, version FROM inc2
    UNION ALL
    SELECT o_orderkey, version FROM inc1
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM inc2)
    """,
    doc="incremental merge sink: two overlapping increments upserted in "
    "sequence — later keys win, disjoint keys persist (ParquetMergeSink; "
    "the oracle computes the same final table set-theoretically)",
)
def q_merge_upsert(spark, sf_dir):
    from etl_excel_csv_sql_spark.io.jdbc import ParquetMergeSink

    scratch = _scratch("merge_upsert")
    sink = ParquetMergeSink(os.path.join(scratch, "tbl"), keys=["o_orderkey"])
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    inc1 = orders.filter(F.col("o_orderkey") < 1000).select(
        "o_orderkey", F.lit("v1").alias("version")
    )
    inc2 = orders.filter(
        (F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500)
    ).select("o_orderkey", F.lit("v2").alias("version"))
    sink.upsert(spark, inc1)
    sink.upsert(spark, inc2)
    return sink.read(spark)


@register(
    "schema_guard_outcomes",
    None,
    doc="schema drift guard: reordered header accepted and re-projected, "
    "drifted header quarantined — deterministic outcome rows "
    "(io/schema_guard.py)",
)
def q_schema_guard(spark, sf_dir):
    from etl_excel_csv_sql_spark.io.schema_guard import read_csv_checked
    from etl_excel_csv_sql_spark.runner.folder_queue import FolderQueue

    scratch = _scratch("schema_guard")
    drop = os.path.join(scratch, "drop")
    os.makedirs(drop)
    with open(os.path.join(drop, "reordered.csv"), "w") as fh:
        fh.write("b,a\n2,1\n")
    with open(os.path.join(drop, "drifted.csv"), "w") as fh:
        fh.write("a,zzz\n1,9\n")
    queue = FolderQueue(
        drop_dir=drop,
        processed_dir=os.path.join(scratch, "Processed"),
        error_dir=os.path.join(scratch, "Error"),
    )
    rows = []
    for name in ("reordered.csv", "drifted.csv"):
        df = read_csv_checked(
            spark, os.path.join(drop, name), ["a", "b"], queue
        )
        rows.append(
            (name, "accepted" if df is not None else "quarantined",
             ",".join(df.columns) if df is not None else "")
        )
    return spark.createDataFrame(rows, ["file", "outcome", "columns"])


@register(
    "invoice_pipeline_e2e",
    None,
    doc="§3.3 end-to-end: P1 filter → J1 semi join → K8 idempotent copies → "
    "J2 write-back → A1/A2 report, twice (T4 re-run idempotency). "
    "Deterministic outcome counts as rows",
)
def q_invoice_pipeline(spark, sf_dir):
    from etl_excel_csv_sql_spark.runner.pipeline import (
        InvoiceSearchJob,
        invoice_search,
    )

    scratch = _scratch("invoice_e2e")
    inv = os.path.join(scratch, "invoices.csv")
    with open(inv, "w") as fh:
        fh.write("InvoiceNumber,Found\nINV-1,\nINV-2,yes\nINV-3,\n")
    db = spark.createDataFrame(
        [
            ("INV-1", "a", "a.pdf", "acme/west"),
            ("INV-3", "b", "c.pdf", "zenith"),
        ],
        ["invnum", "SubFolder", "FileName", "CustomerRef"],
    )
    src = os.path.join(scratch, "docs")
    for sub, name in (("a", "a.pdf"), ("b", "c.pdf")):
        os.makedirs(os.path.join(src, sub), exist_ok=True)
        with open(os.path.join(src, sub, name), "w") as fh:
            fh.write("pdf")
    job = InvoiceSearchJob(
        invoice_csv=inv, src_root=src, dst_root=os.path.join(scratch, "found")
    )
    r1 = invoice_search(spark, job, db)
    r2 = invoice_search(spark, job, db)  # T4: everything marked, no-ops
    rows = [
        ("run1", r1["expected"], r1["found"], r1["copies"]["copied"]),
        ("run2", r2["expected"], r2["found"], r2["copies"]["copied"]),
    ]
    return spark.createDataFrame(rows, ["run", "expected", "found", "copied"])


@register(
    "media_streaming_meta_rollup",
    # Decode-in-stream e2e: encoded image payloads replayed through
    # readStream, headers parsed IN the stream by the Arrow mapInPandas
    # kernel (stateless → streaming-safe), complete-mode per-format
    # rollup. Every aggregate is predicted by the synth_image_dims id
    # contract, so this is a full value oracle over a streaming decode.
    """
    SELECT CASE doc_id % 5 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                           WHEN 2 THEN 'ppm' WHEN 3 THEN 'gif' ELSE 'tiff'
           END AS fmt,
           count(*) AS n_images,
           CAST(max(8 + (7 * doc_id) % 80) AS BIGINT) AS max_width,
           CAST(max(8 + (5 * doc_id) % 60) AS BIGINT) AS max_height,
           round(avg(CAST((8 + (7 * doc_id) % 80)
                          * (8 + (5 * doc_id) % 60) AS DOUBLE)), 6)
               AS mean_pixels
    FROM documents GROUP BY 1
    """,
    doc="streaming multimodal e2e: REAL encoded BMP/PNG/PPM/GIF/TIFF payloads "
    "replayed via readStream → header decode in-stream (Arrow "
    "mapInPandas, stateless) → complete-mode per-format dimension "
    "rollup; the oracle predicts every aggregate from the synth id "
    "contract — the decode-at-ingest shape of a media training pipeline",
)
def q_media_streaming_meta_rollup(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.operators import multimodal

    scratch = _scratch(
        "media_streaming_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "in")
    docs = load_table(spark, sf_dir, "documents")
    payloads = multimodal.synth_image_payloads(docs)
    payloads.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    media = multimodal.to_media_column(stream, "media_id", "payload", "image")
    meta = multimodal.extract_image_meta(media, strict=True)
    rollup = meta.groupBy("fmt").agg(
        F.count("*").alias("n_images"),
        F.max("width").cast("bigint").alias("max_width"),
        F.max("height").cast("bigint").alias("max_height"),
        F.round(
            F.avg((F.col("width") * F.col("height")).cast("double")), 6
        ).alias("mean_pixels"),
    )
    sink_name = _next_sink_name(spark, "media_stream_rollup")
    (
        rollup.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink_name).select(
        "fmt", "n_images", "max_width", "max_height", "mean_pixels"
    )


@register(
    "media_streaming_audio_rollup",
    # r12: the compressed-audio twin of media_streaming_meta_rollup —
    # MP3 frame-walk + FLAC STREAMINFO metadata extracted IN the stream
    # (both kernels stateless → streaming-safe), complete-mode rollup
    # per (codec, sample_rate). Every aggregate is integer arithmetic
    # on doc_id via the synth_mp3_params / synth_flac_params contracts:
    # even ids carry MP3 payloads, odd ids FLAC.
    """
    WITH mp3 AS (
      SELECT 'mp3' AS codec,
             ([44100,48000,32000])[(doc_id % 3) + 1] AS sample_rate,
             (5 + doc_id % 40) * 1152 * 1000
                 // (([44100,48000,32000])[(doc_id % 3) + 1]) AS dur
      FROM documents WHERE doc_id % 2 = 0
    ), flac AS (
      SELECT 'flac' AS codec,
             ([44100,48000,32000,96000,88200,192000])[(doc_id % 6) + 1]
                 AS sample_rate,
             (([44100,48000,32000,96000,88200,192000])[(doc_id % 6) + 1]
                 * (1 + doc_id % 20) + doc_id % 1000) * 1000
                 // ([44100,48000,32000,96000,88200,192000])[(doc_id % 6) + 1]
                 AS dur
      FROM documents WHERE doc_id % 2 = 1
    ), u AS (SELECT * FROM mp3 UNION ALL SELECT * FROM flac)
    SELECT codec, CAST(sample_rate AS INT) AS sample_rate,
           count(*) AS n_clips,
           CAST(sum(dur) AS BIGINT) AS total_duration_ms,
           CAST(max(dur) AS BIGINT) AS max_duration_ms
    FROM u GROUP BY 1, 2
    """,
    doc="streaming compressed-audio e2e: REAL MPEG-1 Layer III and FLAC "
    "metadata chains replayed via readStream -> frame-walk / STREAMINFO "
    "parse in-stream (Arrow mapInPandas, stateless) -> complete-mode "
    "per-(codec, sample_rate) duration rollup; the oracle predicts "
    "every aggregate from the synth id contracts -- the audio-ingest "
    "catalog shape of a speech/music training pipeline",
)
def q_media_streaming_audio_rollup(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.operators import multimodal

    scratch = _scratch(
        "media_audio_streaming_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "in")
    docs = load_table(spark, sf_dir, "documents")
    mp3 = multimodal.synth_mp3_payloads(
        docs.where(F.col("doc_id") % 2 == 0)
    ).withColumn("codec", F.lit("mp3"))
    flac = multimodal.synth_flac_payloads(
        docs.where(F.col("doc_id") % 2 == 1)
    ).withColumn("codec", F.lit("flac"))
    mp3.unionByName(flac).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    mp3_meta = multimodal.extract_mp3_meta(
        multimodal.to_media_column(
            stream.where(F.col("codec") == "mp3"),
            "media_id", "payload", "audio",
        ),
        strict=True,
    ).select(
        F.lit("mp3").alias("codec"), "sample_rate",
        F.col("duration_ms").alias("dur"),
    )
    flac_meta = multimodal.extract_flac_meta(
        multimodal.to_media_column(
            stream.where(F.col("codec") == "flac"),
            "media_id", "payload", "audio",
        ),
        strict=True,
    ).select(
        F.lit("flac").alias("codec"), "sample_rate",
        F.col("duration_ms").alias("dur"),
    )
    rollup = mp3_meta.unionByName(flac_meta).groupBy(
        "codec", "sample_rate"
    ).agg(
        F.count("*").alias("n_clips"),
        F.sum("dur").alias("total_duration_ms"),
        F.max("dur").cast("bigint").alias("max_duration_ms"),
    )
    sink_name = _next_sink_name(spark, "media_audio_rollup")
    (
        rollup.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink_name).select(
        "codec", "sample_rate", "n_clips", "total_duration_ms",
        "max_duration_ms",
    )


# ---------------------------------------------------------------------------
# r6: driver-visible queries for the last pytest-only §2 behaviors
# (VERDICT r5 gap #2 — K3, F3, F9/F7, P7, A3)
# ---------------------------------------------------------------------------


@register(
    "lock_fallback_naming",
    """
    SELECT * FROM (VALUES
        ('unlocked', 'report.csv', 'report.csv', FALSE),
        ('locked',   'report.csv', 'report_20240315.csv', TRUE)
    ) AS t(scenario, requested_name, written_name, fallback_used)
    """,
    doc="K3: locked-target CSV write-back falls back to the dated sibling "
    "<stem>_<yyyyMMdd><ext> (InvoiceFileSearchFromSQL.ps1:143-151). The "
    "query runs write_csv_with_lock_fallback twice against real files — "
    "once unobstructed, once with the target path occupied by an "
    "unremovable directory (the portable stand-in for a desktop-app file "
    "lock) — and manifests the names actually written; the oracle pins "
    "both the passthrough and the derived fallback name.",
)
def q_lock_fallback_naming(spark, sf_dir):
    from datetime import datetime

    from etl_excel_csv_sql_spark.io.csv_io import write_csv_with_lock_fallback

    scratch = _scratch("lock_fallback")
    frame = spark.createDataFrame([(1, "a"), (2, "b")], ["pk", "val"])
    fixed_now = datetime(2024, 3, 15, 10, 30)
    rows = []

    free = os.path.join(scratch, "free", "report.csv")
    os.makedirs(os.path.dirname(free))
    written = write_csv_with_lock_fallback(frame, free, now=fixed_now)
    rows.append(
        ("unlocked", "report.csv", os.path.basename(written), written != free)
    )

    locked = os.path.join(scratch, "locked", "report.csv")
    os.makedirs(locked)  # a directory at the target → OSError on overwrite
    written2 = write_csv_with_lock_fallback(frame, locked, now=fixed_now)
    rows.append(
        ("locked", "report.csv", os.path.basename(written2), written2 != locked)
    )

    for path in (written, written2):  # both sinks must hold real bytes
        assert os.path.isfile(path) and os.path.getsize(path) > 0, path
    return spark.createDataFrame(
        rows, ["scenario", "requested_name", "written_name", "fallback_used"]
    )


@register(
    "sql_compose_quoting",
    """
    SELECT * FROM (VALUES
        ('bracket', 'OrderId', '[OrderId]'),
        ('bracket', 'Order Id', '[Order Id]'),
        ('bracket', '[Bracketed]', '[Bracketed]'),
        ('in_list', 'SELECT * FROM t WHERE ref IN (&reflist&)',
         'SELECT * FROM t WHERE ref IN (''INV-001'',''O''''Brien'')')
    ) AS t(kind, input, output)
    """,
    doc="F3/F9/F7: SQL text composition — identifier bracket-quoting "
    "(CSVtoSQLimport.ps1:49-57; already-bracketed names pass through) and "
    "the template → quoted-IN-list splice with single quotes escaped by "
    "doubling (InvoiceFileSearchFromSQL.ps1:63). Runs the actual helpers "
    "(enclose_with_brackets, JdbcQuerySource.with_in_list); the oracle "
    "pins the exact composed strings.",
)
def q_sql_compose_quoting(spark, sf_dir):
    from etl_excel_csv_sql_spark.functions.scalars import enclose_with_brackets
    from etl_excel_csv_sql_spark.io.jdbc import JdbcQuerySource

    rows = [
        ("bracket", ident, enclose_with_brackets(ident))
        for ident in ("OrderId", "Order Id", "[Bracketed]")
    ]
    template = "SELECT * FROM t WHERE ref IN (&reflist&)"
    src = JdbcQuerySource(url="jdbc:derby:memory:unused", query=template)
    rows.append(
        ("in_list", template, src.with_in_list("&reflist&", ["INV-001", "O'Brien"]).query)
    )
    return spark.createDataFrame(rows, ["kind", "input", "output"])


@register(
    "settings_validation_outcomes",
    """
    SELECT * FROM (VALUES
        ('nations', 'importTable,importTablePK', FALSE, TRUE),
        ('orders',  '', TRUE, FALSE),
        ('parts',   'importTablePK', FALSE, TRUE)
    ) AS t(source_name, missing_keys, any_datetime_fields, skipped)
    """,
    doc="P7/A3: per-source param validation — require() reports "
    "missing/empty mandatory keys (ExcelToCSVexport.ps1:87-90, "
    "CSVtoSQLimport.ps1:170-180) and the any-datetime-fields-configured "
    "flag derives from split_list (CSVtoSQLimport.ps1:153-155); a source "
    "with missing params is skipped, not fatal.",
)
def q_settings_validation(spark, sf_dir):
    from etl_excel_csv_sql_spark.io.settings import (
        parse_settings_text,
        require,
        split_list,
    )

    configs = {
        "orders": (
            "importTable==dbo.Orders\nimportTablePK==OrderId\n"
            "datetimeFields=Created, Updated\n"
        ),
        "parts": "importTable==dbo.Parts\nimportTablePK==\ndatetimeFields=\n",
        "nations": "# comment only\nnote=no table configured\n",
    }
    rows = []
    for name, text in sorted(configs.items()):
        values = parse_settings_text(text)
        missing = require(values, ["importTable", "importTablePK"])
        rows.append(
            (
                name,
                ",".join(missing),
                len(split_list(values.get("datetimeFields"))) > 0,  # A3
                bool(missing),
            )
        )
    return spark.createDataFrame(
        rows, ["source_name", "missing_keys", "any_datetime_fields", "skipped"]
    )


@register(
    "warc_crawl_catalog",
    # r12: WARC ingest — the container a real crawl corpus (Common
    # Crawl) actually ships in. The fixture writes ONE .warc.gz of
    # per-record gzip members (the CC layout) with a closed-form id
    # contract; read_warc lists files via binaryFile (file = the
    # parallelism unit — WARC.gz is not block-splittable, which is
    # exactly why CC sizes segments at ~1 GB) and parses records in an
    # Arrow kernel: CRLF-framed headers, exact Content-Length bodies,
    # embedded HTTP status lines. body = 'doc-{id}-' + 'x'*(id%50), so
    # n_body_bytes = 5 + len(str(id)) + id%50 and text_head is the
    # literal body (< 120 chars) — full value oracle.
    """
    SELECT doc_id,
           'https://example.org/doc/' || CAST(doc_id AS VARCHAR)
             AS target_uri,
           CAST(CASE WHEN doc_id % 7 = 3 THEN 404 ELSE 200 END AS INT)
             AS http_status,
           CAST(5 + length(CAST(doc_id AS VARCHAR)) + doc_id % 50
                AS BIGINT) AS n_body_bytes,
           'doc-' || CAST(doc_id AS VARCHAR) || '-'
             || repeat('x', CAST(doc_id % 50 AS INT)) AS text_head
    FROM documents
    """,
    doc="WARC/WARC.gz crawl ingest (io/warc.py): binaryFile file "
    "listing + Arrow mapInPandas record parse (WARC/1.0 header block, "
    "exact Content-Length framing, per-record gzip members, embedded "
    "HTTP status + body) — the Common Crawl entry point of the LLM "
    "pipeline, feeding the dedup/quality/language stages. URI, status, "
    "body bytes, and text head all value-checked by the id-contract "
    "oracle",
)
def q_warc_crawl_catalog(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import warc

    scratch = _scratch(
        "warc_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    recs = [
        {
            "uri": f"https://example.org/doc/{i}",
            "status": 404 if i % 7 == 3 else 200,
            "body_text": f"doc-{i}-" + "x" * (i % 50),
        }
        for i in ids
    ]
    path = os.path.join(scratch, "crawl-00000.warc.gz")
    with open(path, "wb") as f:
        f.write(warc.encode_warc(recs, gzip_members=True))
    df = warc.read_warc(spark, path, strict=True)
    return df.filter(F.col("warc_type") == "response").select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "target_uri",
        "http_status",
        "n_body_bytes",
        "text_head",
    )


@register(
    "warc_web_text_extract",
    # r12: the WET-conversion stage chained onto the crawl reader —
    # WARC.gz fixture whose response bodies are HTML (title + script
    # boilerplate + heading/paragraph + id%4 anchors), read_warc, then
    # the html.parser extraction kernel. The extraction contract
    # (script/style/head dropped, whitespace collapsed, anchors
    # counted) makes title/text/links/chars closed-form — full value
    # oracle over a TWO-stage Python-kernel pipeline.
    # r13 (VERDICT #2): extraction now reads read_warc's FULL `text`
    # column (not a head_chars window), and every fixture body carries
    # an 80-word pad paragraph pushing the HTML well past the default
    # 120-char head — a truncating reader would lose the pad AND the
    # trailing anchors, so the oracle pins truncation-free end-to-end.
    """
    WITH t AS (
      SELECT doc_id,
             'H' || CAST(doc_id AS VARCHAR) || ' para '
               || CAST(doc_id AS VARCHAR) || ' content'
               || repeat(' w', 80)
               || repeat(' l', CAST(doc_id % 4 AS INT)) AS text
      FROM documents
    )
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           text,
           CAST(doc_id % 4 AS INT) AS n_links,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM t
    """,
    doc="crawl → text in two Arrow passes: read_warc (binaryFile + "
    "record walk, full-body charset-aware text column) feeds the "
    "html.parser visible-text extraction (script/style/noscript/"
    "template and <head> dropped, whitespace collapsed, <a href> "
    "counted — the WET stage every text pipeline runs before language "
    "ID / quality / dedup). Bodies exceed the head window, so title, "
    "text, link count, and char count value-check truncation-free",
)
def q_warc_web_text(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import warc
    from etl_excel_csv_sql_spark.operators import webtext

    scratch = _scratch(
        "warc_html_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    pad = "<p>" + " w" * 80 + "</p>"
    recs = []
    for i in ids:
        links = "".join(f"<a href='/l{j}'>l</a>" for j in range(i % 4))
        recs.append(
            {
                "uri": f"https://example.org/doc/{i}",
                "status": 200,
                "body_text": (
                    f"<html><head><title>Doc {i}</title>"
                    f"<script>var x = 1; if (x < 2) {{}}</script></head>"
                    f"<body><h1>H{i}</h1><p>para {i} content</p>"
                    f"{pad}{links}</body></html>"
                ),
            }
        )
    path = os.path.join(scratch, "crawl-00000.warc.gz")
    with open(path, "wb") as f:
        f.write(warc.encode_warc(recs, gzip_members=True))
    pages = (
        warc.read_warc(spark, path, strict=True)
        .filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "text",
        )
    )
    return webtext.extract_web_text(pages, "doc_id", "text")


@register(
    "warc_charset_bodies",
    # r13 (VERDICT #2): the charset lane of the crawl reader — real
    # crawls are 10-15% legacy encodings, and a UTF-8-hardwired decode
    # feeds mojibake into lang-ID/dedup. Fixture rotates three planted
    # encodings by doc_id % 3: (0) no charset anywhere → UTF-8 default
    # with a 200-char pad (also a truncation pin: body >> the 120-char
    # head window); (1) windows-1251 Cyrillic declared in the embedded
    # HTTP Content-Type header; (2) shift_jis Japanese declared ONLY in
    # a <meta charset> tag (header says bare text/html) — exercising
    # all three detection sources. Every decoded char, the normalized
    # codec name, the detection source, and the byte-vs-char gap
    # (shift_jis 日本語/テキスト are 2-byte chars: bytes = chars + 7)
    # are closed-form — full value oracle.
    """
    WITH t AS (
      SELECT doc_id, CAST(doc_id % 3 AS INT) AS r FROM documents
    ), b AS (
      SELECT doc_id, r,
             CASE r
               WHEN 0 THEN 'plain doc ' || CAST(doc_id AS VARCHAR)
                 || ' ' || repeat('x', 200)
               WHEN 1 THEN 'кириллица ' || CAST(doc_id AS VARCHAR)
                 || ' ' || repeat('ю', 150)
               ELSE '<html><head><meta charset="shift_jis"></head>'
                 || '<body>日本語 ' || CAST(doc_id AS VARCHAR)
                 || ' テキスト</body></html>'
             END AS text
      FROM t
    )
    SELECT doc_id,
           CASE r WHEN 0 THEN 'utf-8' WHEN 1 THEN 'cp1251'
                  ELSE 'shift_jis' END AS charset,
           CASE r WHEN 0 THEN 'default' WHEN 1 THEN 'header'
                  ELSE 'meta' END AS charset_source,
           CAST(length(text) + CASE r WHEN 2 THEN 7 ELSE 0 END
                AS BIGINT) AS n_body_bytes,
           text,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM b
    """,
    doc="charset-aware full-body decode in the WARC reader "
    "(io/warc.py detect_charset): HTTP Content-Type charset param "
    "wins, else <meta charset> sniff over the first 4 KiB, else BOM, "
    "else UTF-8-replace — the WHATWG-ish precedence browsers use. "
    "Fixture plants windows-1251 and shift_jis bodies that must decode "
    "to the exact planted Cyrillic/Japanese text (plus an "
    "undeclared-UTF-8 lane longer than the head window), value-checked "
    "per character by the id-contract oracle",
)
def q_warc_charset_bodies(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import warc

    scratch = _scratch(
        "warc_charset_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    recs = []
    for i in ids:
        uri = f"https://example.org/doc/{i}"
        r = i % 3
        if r == 0:
            recs.append(
                {
                    "uri": uri,
                    "status": 200,
                    "body_text": f"plain doc {i} " + "x" * 200,
                }
            )
        elif r == 1:
            txt = f"кириллица {i} " + "ю" * 150
            recs.append(
                {
                    "uri": uri,
                    "status": 200,
                    "body_bytes": txt.encode("cp1251"),
                    "http_content_type": (
                        "text/html; charset=windows-1251"
                    ),
                }
            )
        else:
            txt = (
                '<html><head><meta charset="shift_jis"></head>'
                f"<body>日本語 {i} テキスト</body></html>"
            )
            recs.append(
                {
                    "uri": uri,
                    "status": 200,
                    "body_bytes": txt.encode("shift_jis"),
                    "http_content_type": "text/html",
                }
            )
    path = os.path.join(scratch, "crawl-00000.warc.gz")
    with open(path, "wb") as f:
        f.write(warc.encode_warc(recs, gzip_members=True))
    return (
        warc.read_warc(spark, path, strict=True)
        .filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "charset",
            "charset_source",
            "n_body_bytes",
            "text",
            F.length("text").cast("long").alias("n_chars"),
        )
    )


@register(
    "crawl_pipeline_e2e",
    # r13 (VERDICT r12 #5): the COMPOSED crawl pipeline in one lazy
    # plan — the nightly-run shape the whole crawl superset exists for:
    # WARC ingest → HTML visible-text extraction → lang-ID filter →
    # quality filter → MinHash keep-first. Fixture contract: pair
    # partner g = id - id%2 shares IDENTICAL visible text (the minhash
    # twin), category c = (g/2) % 3 plants one lane per filter stage:
    # c=0 English prose interleaving en stopwords with group-unique
    # tokens (every 3-shingle carries a group token → cross-group
    # Jaccard exactly 0; quality = 3/3), c=1 German prose (dropped at
    # lang-ID: de stopword argmax, zero en hits), c=2 junk (no
    # stopwords → lang defaults 'en' and SURVIVES the lang stage, then
    # drops at quality: <10 tokens, no stopwords, punct-heavy). So the
    # kept set is closed-form: min(id) per c=0 pair group.
    """
    WITH cat AS (
      SELECT doc_id,
             doc_id - (doc_id % 2) AS g,
             ((doc_id - (doc_id % 2)) // 2) % 3 AS c
      FROM documents
    ), en AS (
      SELECT doc_id, g FROM cat WHERE c = 0
    ), keep AS (
      SELECT g, min(doc_id) AS doc_id FROM en GROUP BY g
    )
    SELECT doc_id, 'en' AS lang, CAST(1.0 AS DOUBLE) AS quality
    FROM keep
    """,
    doc="crawl → corpus in ONE lazy plan: read_warc (binaryFile + "
    "record walk, charset-aware full text) → extract_web_text "
    "(html.parser WET stage) → lang_id =='en' (script ranges + "
    "stopword argmax, pure Catalyst) → quality_score >= 0.5 (length/"
    "stopword/punct bands) → minhash_lsh_pairs + dedup_keep_first "
    "(banded LSH, min-id keeper). Mirrors corpus_pipeline_e2e for the "
    "crawl entry point; each stage is an independently-oracled "
    "operator and the composition carries a stage-by-stage closed-form "
    "oracle. No intermediate materialization — Catalyst fuses the two "
    "Arrow kernels with the JVM filter stages",
)
def q_crawl_pipeline_e2e(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.functions import text as tf
    from etl_excel_csv_sql_spark.io import warc
    from etl_excel_csv_sql_spark.operators import dedup, webtext

    scratch = _scratch(
        "crawl_e2e_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    en_stops = ("the", "and", "of", "to", "in", "is", "it", "that", "for")
    de_stops = ("der", "die", "und", "ist", "ein", "zu", "den", "mit")
    recs = []
    for i in ids:
        g = i - (i % 2)
        c = (g // 2) % 3
        if c == 0:
            vis = " ".join(
                f"{sw} w{g}x{k}" for k, sw in enumerate(en_stops)
            )
        elif c == 1:
            vis = " ".join(
                f"{sw} w{g}x{k}" for k, sw in enumerate(de_stops)
            )
        else:
            vis = "zzz!!! qqq??? %%%"
        recs.append(
            {
                "uri": f"https://example.org/doc/{i}",
                "status": 200,
                "body_text": (
                    f"<html><head><title>Doc {i}</title></head>"
                    f"<body><p>{vis}</p></body></html>"
                ),
            }
        )
    path = os.path.join(scratch, "crawl-00000.warc.gz")
    with open(path, "wb") as f:
        f.write(warc.encode_warc(recs, gzip_members=True))
    pages = (
        warc.read_warc(spark, path, strict=True)
        .filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "text",
        )
    )
    wet = webtext.extract_web_text(pages, "doc_id", "text")
    langed = wet.withColumn("lang", tf.lang_id("text")).filter(
        F.col("lang") == "en"
    )
    scored = langed.withColumn(
        "quality", tf.quality_score("text")
    ).filter(F.col("quality") >= 0.5)
    pairs = dedup.minhash_lsh_pairs(
        scored, "doc_id", "text", threshold=0.5
    )
    kept = dedup.dedup_keep_first(scored, pairs, "doc_id")
    return kept.select(
        "doc_id", "lang", F.round("quality", 6).alias("quality")
    )


@register(
    "wet_text_catalog",
    # r13: the WET layout — Common Crawl's companion artifact to the
    # raw WARC: extracted text shipped as `conversion` records
    # (text/plain, no HTTP wrapper). read_warc now decodes those
    # directly through the same charset lane as responses. Fixture
    # rotates r = id % 4: (0) UTF-8-BOM body — the BOM is the charset
    # SIGNAL and must be stripped from the text, (1) windows-1251
    # declared in the WARC Content-Type charset param ('header'
    # source), (2)/(3) undeclared UTF-8. All closed-form.
    """
    WITH t AS (
      SELECT doc_id, CAST(doc_id % 4 AS INT) AS r FROM documents
    ), b AS (
      SELECT doc_id, r,
             CASE WHEN r = 1
               THEN 'текст ' || CAST(doc_id AS VARCHAR) || ' '
                 || repeat('щ', CAST(doc_id % 30 AS INT))
               ELSE 'wet text ' || CAST(doc_id AS VARCHAR) || ' '
                 || repeat('y', CAST(doc_id % 40 AS INT))
             END AS text
      FROM t
    )
    SELECT doc_id,
           CASE r WHEN 1 THEN 'cp1251' ELSE 'utf-8' END AS charset,
           CASE r WHEN 0 THEN 'bom' WHEN 1 THEN 'header'
                  ELSE 'default' END AS charset_source,
           text,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM b
    """,
    doc="WET conversion-record ingest (io/warc.py): Common Crawl's "
    "pre-extracted text artifact — `conversion` records with text/* "
    "Content-Type decode through the same charset precedence as HTTP "
    "responses (header param > meta > BOM > UTF-8), with the UTF-8 "
    "BOM stripped when the BOM itself was the signal. Charset, "
    "source, and every decoded char value-checked by the id contract",
)
def q_wet_text_catalog(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import warc

    scratch = _scratch(
        "wet_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    recs = []
    for i in ids:
        r = i % 4
        uri = f"https://example.org/doc/{i}"
        if r == 0:
            body = b"\xef\xbb\xbf" + (
                f"wet text {i} " + "y" * (i % 40)
            ).encode()
            recs.append(
                {
                    "uri": uri, "status": 200,
                    "record_type": "conversion",
                    "body_bytes": body,
                }
            )
        elif r == 1:
            txt = f"текст {i} " + "щ" * (i % 30)
            recs.append(
                {
                    "uri": uri, "status": 200,
                    "record_type": "conversion",
                    "body_bytes": txt.encode("cp1251"),
                    "http_content_type": (
                        "text/plain; charset=windows-1251"
                    ),
                }
            )
        else:
            recs.append(
                {
                    "uri": uri, "status": 200,
                    "record_type": "conversion",
                    "body_text": f"wet text {i} " + "y" * (i % 40),
                }
            )
    path = os.path.join(scratch, "crawl-00000.warc.wet.gz")
    with open(path, "wb") as f:
        f.write(warc.encode_warc(recs, gzip_members=True))
    return (
        warc.read_warc(spark, path, strict=True)
        .filter(F.col("warc_type") == "conversion")
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "charset",
            "charset_source",
            "text",
            F.length("text").cast("long").alias("n_chars"),
        )
    )


@register(
    "wat_metadata_catalog",
    # r14 (VERDICT r13 #7): the WAT layout — Common Crawl's THIRD
    # artifact (page metadata as JSON envelope records inside a WARC
    # container), closing the WARC/WET/WAT triad. The fixture writes
    # one metadata record per doc in the CC Envelope shape (WARC
    # headers + Head.Title/Metas + Links); the read path is the SAME
    # record kernel as WARC/WET plus from_json on the text column —
    # Catalyst prunes unread envelope fields. Links count id % 4,
    # metas id % 3, first link url closed-form.
    """
    SELECT 'https://example.org/p/' || CAST(doc_id AS VARCHAR)
             AS page_uri,
           'Title ' || CAST(doc_id AS VARCHAR) AS title,
           CAST(doc_id % 4 AS INT) AS n_links,
           CAST(doc_id % 3 AS INT) AS n_metas,
           CASE WHEN doc_id % 4 = 0 THEN NULL
                ELSE 'https://example.org/l/' || CAST(doc_id AS VARCHAR)
                  || '/0' END AS first_link_url
    FROM documents
    """,
    doc="WAT page-metadata ingest (io/warc.py encode_wat / "
    "parse_wat_metadata / wat_page_catalog): metadata+application/json "
    "records through the SAME streaming WARC kernel, then from_json "
    "shapes the Common Crawl Envelope (title, metas, links) into "
    "columns — completing the WARC/WET/WAT triad. Title, link and "
    "meta counts, and first link url all value-checked by the "
    "id-contract oracle; the link edge list joins against "
    "web_link_graph in pytest",
)
def q_wat_metadata_catalog(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import warc

    scratch = _scratch(
        "wat_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    pages = [
        {
            "uri": f"https://example.org/p/{i}",
            "title": f"Title {i}",
            "links": [
                {
                    "url": f"https://example.org/l/{i}/{k}",
                    "text": f"link {k}",
                }
                for k in range(i % 4)
            ],
            "metas": [
                {"name": f"m{k}", "content": f"c{k}"}
                for k in range(i % 3)
            ],
        }
        for i in ids
    ]
    path = os.path.join(scratch, "crawl-00000.warc.wat.gz")
    with open(path, "wb") as f:
        f.write(warc.encode_wat(pages))
    return warc.wat_page_catalog(warc.read_warc(spark, path, strict=True))


@register(
    "web_link_graph",
    # r13: the link-graph edge list — visible anchors only (the same
    # visibility contract as the text extraction: anchors inside
    # noscript/template/<head> are boilerplate, pinned by a planted
    # hidden anchor on every page that must NOT appear here). Each doc
    # carries id % 4 visible anchors with closed-form hrefs; DuckDB's
    # lateral unnest(range()) renders the same explosion.
    """
    SELECT doc_id,
           '/l' || CAST(doc_id AS VARCHAR) || 'x' || CAST(j AS VARCHAR)
             AS href
    FROM documents, unnest(range(CAST(doc_id % 4 AS BIGINT))) AS g(j)
    """,
    doc="crawl link-graph edges: read_warc HTML responses → "
    "extract_web_links (one Arrow pass, one row per VISIBLE anchor "
    "href in document order) — the edge list PageRank/out-degree/"
    "frontier-discovery runs on. Hidden-anchor exclusion and every "
    "href value-checked by the id-contract oracle",
)
def q_web_link_graph(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import warc
    from etl_excel_csv_sql_spark.operators import webtext

    scratch = _scratch(
        "linkgraph_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    recs = []
    for i in ids:
        links = "".join(
            f"<a href='/l{i}x{j}'>l</a>" for j in range(i % 4)
        )
        recs.append(
            {
                "uri": f"https://example.org/doc/{i}",
                "status": 200,
                "body_text": (
                    f"<html><head><a href='/hidden{i}'>h</a></head>"
                    f"<body><p>page {i}</p>{links}"
                    f"<noscript><a href='/also-hidden'>n</a>"
                    f"</noscript></body></html>"
                ),
            }
        )
    path = os.path.join(scratch, "crawl-00000.warc.gz")
    with open(path, "wb") as f:
        f.write(warc.encode_warc(recs, gzip_members=True))
    pages = (
        warc.read_warc(spark, path, strict=True)
        .filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "text",
        )
    )
    return webtext.extract_web_links(pages, "doc_id", "text")


@register(
    "web_link_graph_resolved",
    # r13: link-graph edges RESOLVED against the page's own URL per
    # RFC 3986 — the form the frontier's normalize/robots/dedup stages
    # consume. Every page carries the five reference shapes: absolute
    # (pass-through), protocol-relative (inherits scheme),
    # root-relative (origin + path), relative (merges with the base
    # DIRECTORY), and dot-segment ('../' climbs out of /dir). stdlib
    # urljoin runs inside the SAME Arrow kernel as the anchor walk.
    """
    SELECT doc_id,
           CASE j
             WHEN 0 THEN 'https://other.com/abs' || CAST(doc_id AS VARCHAR)
             WHEN 1 THEN '//cdn.net/pr' || CAST(doc_id AS VARCHAR)
             WHEN 2 THEN '/root' || CAST(doc_id AS VARCHAR)
             WHEN 3 THEN 'sub/rel' || CAST(doc_id AS VARCHAR)
             ELSE '../up' || CAST(doc_id AS VARCHAR)
           END AS href,
           CASE j
             WHEN 0 THEN 'https://other.com/abs' || CAST(doc_id AS VARCHAR)
             WHEN 1 THEN 'https://cdn.net/pr' || CAST(doc_id AS VARCHAR)
             WHEN 2 THEN 'https://example.org/root' || CAST(doc_id AS VARCHAR)
             WHEN 3 THEN 'https://example.org/dir/sub/rel'
               || CAST(doc_id AS VARCHAR)
             ELSE 'https://example.org/up' || CAST(doc_id AS VARCHAR)
           END AS url
    FROM documents, unnest(range(5)) AS g(j)
    """,
    doc="RFC 3986 reference resolution on the link graph: "
    "extract_web_links with base_col resolves each visible href "
    "against the page URL (urljoin in the same Arrow kernel — "
    "absolute, protocol-relative, root-relative, directory-merge, and "
    "dot-segment removal all value-checked by the id-contract oracle)",
)
def q_web_link_graph_resolved(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import warc
    from etl_excel_csv_sql_spark.operators import webtext

    scratch = _scratch(
        "linkres_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    recs = []
    for i in ids:
        hrefs = (
            f"https://other.com/abs{i}",
            f"//cdn.net/pr{i}",
            f"/root{i}",
            f"sub/rel{i}",
            f"../up{i}",
        )
        links = "".join(f"<a href='{h}'>l</a>" for h in hrefs)
        recs.append(
            {
                "uri": f"https://example.org/dir/page{i}.html",
                "status": 200,
                "body_text": f"<html><body>{links}</body></html>",
            }
        )
    path = os.path.join(scratch, "crawl-00000.warc.gz")
    with open(path, "wb") as f:
        f.write(warc.encode_warc(recs, gzip_members=True))
    pages = (
        warc.read_warc(spark, path, strict=True)
        .filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract(
                "target_uri", r"/dir/page(\d+)\.html$", 1
            )
            .cast("long")
            .alias("doc_id"),
            "text",
            "target_uri",
        )
    )
    return webtext.extract_web_links(
        pages, "doc_id", "text", base_col="target_uri"
    )


@register(
    "warc_streaming_ingest",
    # r13: the STREAMING twin of warc_crawl_catalog — a continuous
    # crawl lands segment files into a drop folder; stream_warc
    # consumes each exactly once (checkpoint-tracked) through the SAME
    # Arrow kernel as the batch reader, so the memory-sink rows must
    # equal the batch id contract. Fixture shards the corpus across
    # THREE .warc.gz files (ids by % 3) with maxFilesPerTrigger=1, so
    # the availableNow run provably processes multiple batches.
    """
    SELECT doc_id,
           'https://example.org/doc/' || CAST(doc_id AS VARCHAR)
             AS target_uri,
           CAST(CASE WHEN doc_id % 7 = 3 THEN 404 ELSE 200 END AS INT)
             AS http_status,
           CAST(5 + length(CAST(doc_id AS VARCHAR)) + doc_id % 50
                AS BIGINT) AS n_body_bytes,
           'doc-' || CAST(doc_id AS VARCHAR) || '-'
             || repeat('x', CAST(doc_id % 50 AS INT)) AS text
    FROM documents
    """,
    doc="streaming WARC ingest (io/warc.py stream_warc): readStream "
    "binaryFile over a drop folder -> the same Arrow record kernel as "
    "the batch reader -> append-mode memory sink under availableNow, "
    "maxFilesPerTrigger=1 across three segment files (multi-batch by "
    "construction, consume-once via the checkpoint). Every row "
    "value-checked by the batch reader's id contract — batch/stream "
    "parity is the oracle",
)
def q_warc_streaming_ingest(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import warc

    scratch = _scratch(
        "warc_stream_" + os.path.basename(sf_dir.rstrip("/"))
    )
    drop = os.path.join(scratch, "drop")
    os.makedirs(drop, exist_ok=True)
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    for shard in range(3):
        recs = [
            {
                "uri": f"https://example.org/doc/{i}",
                "status": 404 if i % 7 == 3 else 200,
                "body_text": f"doc-{i}-" + "x" * (i % 50),
            }
            for i in ids
            if i % 3 == shard
        ]
        with open(
            os.path.join(drop, f"crawl-{shard:05d}.warc.gz"), "wb"
        ) as f:
            f.write(warc.encode_warc(recs, gzip_members=True))
    stream = warc.stream_warc(
        spark, drop, strict=True, max_files_per_trigger=1
    )
    rows = stream.filter(F.col("warc_type") == "response").select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "target_uri",
        "http_status",
        "n_body_bytes",
        F.col("text"),
    )
    sink_name = _next_sink_name(spark, "warc_stream_sink")
    (
        rows.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink_name)


@register(
    "crawl_streaming_pipeline_e2e",
    # r14 (VERDICT r13 #8): the CONTINUOUS-INGEST twin of the batch
    # capstone — WARC segments land in a drop folder; each micro-batch
    # (stream_warc, maxFilesPerTrigger=1 over three shards → multi-
    # batch by construction) runs extraction → URL hygiene →
    # incremental MinHashIndex.query inside foreachBatch, appending
    # matches to a parquet sink with checkpoint-committed consume-once.
    # Fixture: the index holds the 80% synth_shingle corpus slice
    # (doc_id % 5 != 0); the stream delivers the whitespace TWIN of
    # every doc as HTML response records, each fetched TWICE under two
    # URL spellings (canonical and UPPERCASE+:443+#fragment) so the
    # url-normalize keep-first stage provably collapses 2→1 before the
    # expensive query. Twin signatures are identical → corpus members'
    # twins match at estimate exactly 1.0; held-out twins match
    # nothing (the pinned shingle-disjointness contract of
    # dedup_incremental_minhash).
    """
    SELECT doc_id + 1000000 AS new_id,
           doc_id AS corpus_id,
           CAST(1.0 AS DOUBLE) AS est_jaccard
    FROM documents
    WHERE doc_id % 5 <> 0
    """,
    doc="streaming crawl pipeline, end-to-end: stream_warc drop-folder "
    "ingest (same Arrow kernel as batch, checkpoint consume-once) → "
    "foreachBatch{ html extraction (webtext) → normalize_url keep-"
    "first dedup (two fetch variants per page collapse before any "
    "expensive work) → persisted MinHashIndex.query (incremental "
    "near-dup against the standing corpus) } → append parquet sink. "
    "The production shape of continuous corpus ingest; every emitted "
    "pair value-checked by the twin contract oracle",
)
def q_crawl_streaming_pipeline_e2e(spark, sf_dir):
    from etl_excel_csv_sql_spark.io import warc
    from etl_excel_csv_sql_spark.operators import dedup, urls
    from etl_excel_csv_sql_spark.operators.dedup import MinHashIndex
    from etl_excel_csv_sql_spark.operators.webtext import extract_web_text

    tag = os.path.basename(sf_dir.rstrip("/"))
    scratch = _scratch("crawl_stream_pipe_" + tag)
    keep = _scratch_keep("minhash_stream_index_" + tag)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    corpus = dedup.synth_shingle_docs(docs).filter(
        F.col("doc_id") % 5 != 0
    )
    index = MinHashIndex(os.path.join(keep, "idx"))
    index.build(corpus, "doc_id", "text", skip_if_exists=True)

    drop = os.path.join(scratch, "drop")
    os.makedirs(drop, exist_ok=True)
    twins = dedup.synth_shingle_docs(
        docs, id_offset=1_000_000, twin=True
    ).collect()  # bounded fixture builder: one row per documents row
    for shard in range(3):
        recs = []
        for r in twins:
            i = r["doc_id"]
            if i % 3 != shard:
                continue
            html = (
                f"<html><head><title>d{i}</title></head>"
                f"<body><p>{r['text']}</p></body></html>"
            )
            for uri in (
                f"https://example.org/doc/{i}",
                f"HTTPS://EXAMPLE.ORG:443/doc/{i}#ref",
            ):
                recs.append({
                    "uri": uri,
                    "status": 200,
                    "body_text": html,
                    "http_content_type": "text/html",
                })
        with open(
            os.path.join(drop, f"crawl-{shard:05d}.warc.gz"), "wb"
        ) as f:
            f.write(warc.encode_warc(recs, gzip_members=True))
    out_dir = os.path.join(scratch, "pairs")

    def process(bdf, _epoch):
        pages = bdf.filter(F.col("warc_type") == "response").select(
            urls.normalize_url("target_uri").alias("url_norm"),
            "text",
        )
        # hygiene: keep-first on the normalized URL key — the two
        # fetch variants of each page collapse to ONE before the
        # extraction/query work (min is deterministic; the variants
        # carry identical bodies by construction)
        uniq = pages.groupBy("url_norm").agg(
            F.min("text").alias("html")
        )
        batch_docs = uniq.select(
            F.regexp_extract("url_norm", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "html",
        )
        extracted = extract_web_text(batch_docs, "doc_id", "html").select(
            "doc_id", "text"
        )
        index.query(extracted, "doc_id", "text", threshold=0.5).write.mode(
            "append"
        ).parquet(out_dir)

    (
        warc.stream_warc(spark, drop, strict=True, max_files_per_trigger=1)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out_dir).select(
        "new_id", "corpus_id", "est_jaccard"
    )


@register(
    "web_main_text",
    # r13: boilerplate-aware MAIN-content extraction (the Arc90/
    # boilerpipe link-density rule, Kohlschütter et al. WSDM'10) — what
    # a production crawl feeds the text pipeline instead of naive
    # all-visible-text. Fixture plants five blocks per page: a nav bar
    # (pure link text → dropped), prose A (kept), a sub-threshold
    # short block (dropped), prose B with ONE inline link (link share
    # < 0.5 → kept, link text stays), and a link-only footer that
    # CLEARS the length bar but fails the density rule (dropped).
    """
    WITH t AS (
      SELECT doc_id,
             'Alpha prose paragraph number ' || CAST(doc_id AS VARCHAR)
               || ' with plenty of words.' || chr(10)
               || 'Beta prose containing a link for doc '
               || CAST(doc_id AS VARCHAR) || ' and more text.'
               AS main_text
      FROM documents
    )
    SELECT doc_id, main_text,
           CAST(2 AS INT) AS n_blocks_kept,
           CAST(3 AS INT) AS n_blocks_dropped,
           CAST(length(main_text) AS BIGINT) AS n_chars
    FROM t
    """,
    doc="main-content extraction (webtext.extract_main_text): block-"
    "segmented visible text with per-block anchor-text share; blocks "
    "under the length bar or over the link-density bar drop — kills "
    "navigation/footers/tag-clouds the WET stage would keep. Survivor "
    "text (inline link text preserved), block counts, and chars all "
    "value-checked by the id-contract oracle",
)
def q_web_main_text(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import warc
    from etl_excel_csv_sql_spark.operators import webtext

    scratch = _scratch(
        "maintext_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    recs = []
    for i in ids:
        recs.append(
            {
                "uri": f"https://example.org/doc/{i}",
                "status": 200,
                "body_text": (
                    "<html><head><title>T</title></head><body>"
                    "<div><a href='/h'>Home</a> <a href='/a'>About</a>"
                    "</div>"
                    f"<p>Alpha prose paragraph number {i} with plenty "
                    "of words.</p>"
                    f"<p>tiny {i % 10}</p>"
                    "<p>Beta prose containing <a href='/x'>a link</a> "
                    f"for doc {i} and more text.</p>"
                    f"<div><a href='/c'>Copyright {i} legal footer "
                    "links galore</a></div>"
                    "</body></html>"
                ),
            }
        )
    path = os.path.join(scratch, "crawl-00000.warc.gz")
    with open(path, "wb") as f:
        f.write(warc.encode_warc(recs, gzip_members=True))
    pages = (
        warc.read_warc(spark, path, strict=True)
        .filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "text",
        )
    )
    out = webtext.extract_main_text(pages, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("main_text"),
        "n_blocks_kept",
        "n_blocks_dropped",
        "n_chars",
    )


@register(
    "crawl_pipeline_full_e2e",
    # r13 capstone: the COMPLETE modern crawl pipeline in one lazy
    # plan — warc ingest → main-content extraction (link-density
    # boilerplate removal) → CCNet paragraph dedup → lang-ID filter →
    # quality filter → MinHash keep-first. Fixture plants one lane per
    # stage: every page carries a nav bar + link-only footer (dropped
    # by the DENSITY rule), a newsletter paragraph shared by ALL pages
    # (survives main_text, dropped by PARAGRAPH dedup), and the
    # category prose — en twins (survive everything, dedup to min id),
    # German (drops at lang-ID), junk shorter than the block bar
    # (drops at main_text; its doc then carries ONLY the shared
    # paragraph, goes empty after paragraph dedup, and drops at
    # quality). Kept set AND cleaned text are closed-form.
    """
    WITH cat AS (
      SELECT doc_id,
             doc_id - (doc_id % 2) AS g,
             ((doc_id - (doc_id % 2)) // 2) % 3 AS c
      FROM documents
    ), en AS (
      SELECT doc_id, g FROM cat WHERE c = 0
    ), keep AS (
      SELECT g, min(doc_id) AS doc_id FROM en GROUP BY g
    )
    SELECT doc_id,
           'the w' || CAST(g AS VARCHAR) || 'x0 and w' || CAST(g AS VARCHAR)
             || 'x1 of w' || CAST(g AS VARCHAR) || 'x2 to w'
             || CAST(g AS VARCHAR) || 'x3 in w' || CAST(g AS VARCHAR)
             || 'x4 is w' || CAST(g AS VARCHAR) || 'x5 it w'
             || CAST(g AS VARCHAR) || 'x6 that w' || CAST(g AS VARCHAR)
             || 'x7 for w' || CAST(g AS VARCHAR) || 'x8' AS text,
           'en' AS lang,
           CAST(1.0 AS DOUBLE) AS quality
    FROM keep
    """,
    doc="the full modern crawl pipeline, one lazy plan: read_warc → "
    "extract_main_text (Arc90 link-density boilerplate removal) → "
    "paragraph_dedup (CCNet cross-doc boilerplate) → lang_id == 'en' → "
    "quality_score >= 0.5 → minhash_lsh_pairs + dedup_keep_first. Six "
    "stages, each an independently-oracled operator; the composition's "
    "kept ids AND cleaned text are closed-form. What a production "
    "training-data crawl actually runs nightly",
)
def q_crawl_pipeline_full_e2e(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.functions import text as tf
    from etl_excel_csv_sql_spark.io import warc
    from etl_excel_csv_sql_spark.operators import dedup, webtext

    scratch = _scratch(
        "crawl_full_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    en_stops = ("the", "and", "of", "to", "in", "is", "it", "that", "for")
    de_stops = ("der", "die", "und", "ist", "ein", "zu", "den", "mit")
    shared = "Subscribe to our weekly newsletter for updates today"
    recs = []
    for i in ids:
        g = i - (i % 2)
        c = (g // 2) % 3
        if c == 0:
            vis = " ".join(
                f"{sw} w{g}x{k}" for k, sw in enumerate(en_stops)
            )
        elif c == 1:
            vis = " ".join(
                f"{sw} w{g}x{k}" for k, sw in enumerate(de_stops)
            )
        else:
            vis = "zzz!!! qqq???"  # under the 25-char block bar
        recs.append(
            {
                "uri": f"https://example.org/doc/{i}",
                "status": 200,
                "body_text": (
                    "<html><head><title>T</title></head><body>"
                    "<div><a href='/h'>Home</a> <a href='/a'>About"
                    "</a></div>"
                    f"<p>{vis}</p>"
                    f"<p>{shared}</p>"
                    "<div><a href='/c'>Copyright legal footer links "
                    "galore</a></div>"
                    "</body></html>"
                ),
            }
        )
    # shard into ~2500-record segment files (r14): WARC.gz is not
    # block-splittable, so the FILE is the task unit — one monolithic
    # file would serialize the whole ingest on one core at any scale,
    # a fixture artifact rather than an operator property (Common
    # Crawl ships ~90k segment files per snapshot for this reason)
    seg = 2500
    for s0 in range(0, max(len(recs), 1), seg):
        path = os.path.join(scratch, f"crawl-{s0 // seg:05d}.warc.gz")
        with open(path, "wb") as f:
            f.write(warc.encode_warc(recs[s0 : s0 + seg], gzip_members=True))
    pages = (
        warc.read_warc(
            spark, os.path.join(scratch, "crawl-*.warc.gz"), strict=True
        )
        .filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "text",
        )
    )
    main = webtext.extract_main_text(pages, "doc_id", "text").select(
        "doc_id", F.col("main_text").alias("text")
    )
    cleaned = dedup.paragraph_dedup(main, "doc_id", "text", min_docs=3)
    langed = cleaned.withColumn("lang", tf.lang_id("text")).filter(
        F.col("lang") == "en"
    )
    scored = langed.withColumn(
        "quality", tf.quality_score("text")
    ).filter(F.col("quality") >= 0.5)
    pairs = dedup.minhash_lsh_pairs(
        scored, "doc_id", "text", threshold=0.5
    )
    kept = dedup.dedup_keep_first(scored, pairs, "doc_id")
    return kept.select(
        "doc_id", "text", "lang", F.round("quality", 6).alias("quality")
    )


@register(
    "web_page_meta",
    # r13: head-metadata extraction — the curation signals a crawl
    # keeps alongside the text: meta description/keywords (presence
    # rotates by id), the site-declared rel=canonical target (the
    # dedup key sites themselves publish: id%4==0 pages point at a
    # shared /c/{id//4} target), og:title, and canonical_key =
    # coalesce(canonical, own URL) — group on it downstream and the
    # crawl keeps one row per canonical target. All closed-form.
    """
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           CASE WHEN doc_id % 3 = 0
                THEN 'desc ' || CAST(doc_id AS VARCHAR) END
             AS description,
           CASE WHEN doc_id % 2 = 1
                THEN 'k' || CAST(doc_id AS VARCHAR) || ',crawl' END
             AS keywords,
           CASE WHEN doc_id % 4 = 0
                THEN 'https://example.org/c/'
                  || CAST(doc_id // 4 AS VARCHAR) END AS canonical,
           CASE WHEN doc_id % 5 = 0
                THEN 'OG ' || CAST(doc_id AS VARCHAR) END AS og_title,
           CASE WHEN doc_id % 4 = 0
                THEN 'https://example.org/c/'
                  || CAST(doc_id // 4 AS VARCHAR)
                ELSE 'https://example.org/doc/'
                  || CAST(doc_id AS VARCHAR) END AS canonical_key
    FROM documents
    """,
    doc="head-metadata extraction (webtext.extract_page_meta): first "
    "meta description/keywords, rel=canonical href, og:title via one "
    "Arrow pass over read_warc bodies; canonical_key = "
    "coalesce(canonical, own URL) is the site-declared dedup key. "
    "Every field value-checked by the id-contract oracle",
)
def q_web_page_meta(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import warc
    from etl_excel_csv_sql_spark.operators import webtext

    scratch = _scratch(
        "pagemeta_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    recs = []
    for i in ids:
        head = [f"<title>Doc {i}</title>"]
        if i % 3 == 0:
            head.append(f'<meta name="description" content="desc {i}">')
        if i % 2 == 1:
            head.append(
                f'<meta name="keywords" content="k{i},crawl">'
            )
        if i % 4 == 0:
            head.append(
                f'<link rel="canonical" '
                f'href="https://example.org/c/{i // 4}">'
            )
        if i % 5 == 0:
            head.append(f'<meta property="og:title" content="OG {i}">')
        recs.append(
            {
                "uri": f"https://example.org/doc/{i}",
                "status": 200,
                "body_text": (
                    f"<html><head>{''.join(head)}</head>"
                    f"<body><p>body {i}</p></body></html>"
                ),
            }
        )
    path = os.path.join(scratch, "crawl-00000.warc.gz")
    with open(path, "wb") as f:
        f.write(warc.encode_warc(recs, gzip_members=True))
    pages = (
        warc.read_warc(spark, path, strict=True)
        .filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "text",
            "target_uri",
        )
    )
    meta = webtext.extract_page_meta(pages, "doc_id", "text")
    return meta.join(
        pages.select("doc_id", "target_uri"), "doc_id"
    ).select(
        "doc_id", "title", "description", "keywords", "canonical",
        "og_title",
        F.coalesce("canonical", "target_uri").alias("canonical_key"),
    )


@register(
    "sitemap_catalog",
    # r13: sitemap ingest — where a polite crawl's frontier comes from
    # (robots.txt names sitemaps, sitemaps name URLs). One .xml.gz
    # fixture, one <url> entry per doc_id with a closed-form field
    # contract; read_sitemap parses executor-side with stdlib
    # xml.etree over binaryFile (file = task, the protocol's own 50k-
    # URL/50 MB bound makes files the natural unit).
    """
    SELECT doc_id,
           'https://example.org/p/' || CAST(doc_id AS VARCHAR) AS loc,
           '2026-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
             AS lastmod,
           CASE WHEN doc_id % 2 = 1 THEN 'daily' END AS changefreq,
           CAST(doc_id % 9 + 1 AS DOUBLE) / 10 AS priority
    FROM documents
    """,
    doc="sitemaps.org XML ingest (io/sitemap.py): binaryFile listing "
    "+ Arrow mapInPandas stdlib-etree parse (urlset/sitemapindex, "
    "namespace-stripped tags, unknown elements ignored, gzip with the "
    "protocol 50 MB bound as the bomb guard) — loc, lastmod, "
    "changefreq, and priority all value-checked by the id-contract "
    "oracle; malformed files quarantine file-atomically",
)
def q_sitemap_catalog(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import sitemap

    scratch = _scratch(
        "sitemap_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    entries = [
        {
            "loc": f"https://example.org/p/{i}",
            "lastmod": f"2026-01-{1 + i % 28:02d}",
            "changefreq": "daily" if i % 2 else None,
            "priority": (i % 9 + 1) / 10,
        }
        for i in ids
    ]
    path = os.path.join(scratch, "sitemap-00000.xml.gz")
    with open(path, "wb") as f:
        f.write(sitemap.encode_sitemap(entries, gzip_payload=True))
    return (
        sitemap.read_sitemap(spark, path, strict=True)
        .select(
            F.regexp_extract("loc", r"/p/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "loc",
            "lastmod",
            "changefreq",
            "priority",
        )
    )


@register(
    "crawl_frontier_e2e",
    # r13: the FRONTIER-side composition (the fetch-side twin of
    # crawl_pipeline_e2e): sitemap ingest → URL normalization → robots
    # politeness filter → URL-key dedup, one lazy plan. Fixture: group
    # g = id % 100 owns one canonical URL rendered through the same
    # five messy variants as url_normalize_dedup (case / :443 /
    # trailing slash / whitespace+fragment), hosts rotate the three
    # eTLD shapes; robots regime g % 2 (even: no rules → allowed; odd:
    # disallow /path — a PREFIX, so every variant of the group drops).
    # Frontier = the 50 even groups with their variant counts.
    """
    WITH m AS (
      SELECT doc_id % 100 AS grp FROM documents
    ), a AS (
      SELECT grp, count(*) AS n_dups FROM m GROUP BY grp
    ), h AS (
      SELECT grp, n_dups,
             CASE grp % 3
               WHEN 0 THEN 'sub.example' || CAST(grp AS VARCHAR) || '.co.uk'
               WHEN 1 THEN 'www.example' || CAST(grp AS VARCHAR) || '.com'
               ELSE 'example' || CAST(grp AS VARCHAR) || '.org'
             END AS host,
             CASE grp % 3
               WHEN 0 THEN 'example' || CAST(grp AS VARCHAR) || '.co.uk'
               WHEN 1 THEN 'example' || CAST(grp AS VARCHAR) || '.com'
               ELSE 'example' || CAST(grp AS VARCHAR) || '.org'
             END AS etld1
      FROM a
    )
    SELECT 'https://' || host || '/path' || CAST(grp AS VARCHAR)
             AS url_norm,
           host, etld1, CAST(n_dups AS BIGINT) AS n_dups
    FROM h
    WHERE grp % 2 = 0
    """,
    doc="the crawl FRONTIER in one lazy plan: read_sitemap (Arrow "
    "etree kernel) → normalize_url + url_host + registrable_domain "
    "(pure Catalyst) → robots filter_crawlable (host join + prefix "
    "max_by; in-plan rules) → URL-key dedup (one hash-agg shuffle). "
    "What a polite fetcher runs before it ever opens a connection; "
    "every stage is an independently-oracled operator and the "
    "composition's keeper set is closed-form",
)
def q_crawl_frontier_e2e(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import sitemap
    from etl_excel_csv_sql_spark.operators import robots, urls

    scratch = _scratch(
        "frontier_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]

    def messy(i: int) -> str:
        g, v = i % 100, (i // 100) % 5
        shape = g % 3
        host = (
            f"sub.example{g}.co.uk" if shape == 0
            else f"www.example{g}.com" if shape == 1
            else f"example{g}.org"
        )
        canon = f"https://{host}/path{g}"
        if v == 1:
            return f"HTTPS://{host.upper()}/path{g}"
        if v == 2:
            return f"https://{host}:443/path{g}"
        if v == 3:
            return canon + "/"
        if v == 4:
            return f"  {canon}#frag{i}  "
        return canon

    entries = [{"loc": messy(i)} for i in ids]
    # shard into <=2500-entry sitemap files (r14): the protocol caps a
    # sitemap at 50k URLs anyway, and the FILE is the read task unit —
    # one monolithic file would serialize ingest at any scale
    seg = 2500
    for s0 in range(0, max(len(entries), 1), seg):
        path = os.path.join(scratch, f"sitemap-{s0 // seg:05d}.xml")
        with open(path, "wb") as f:
            f.write(sitemap.encode_sitemap(entries[s0 : s0 + seg]))
    locs = sitemap.read_sitemap(
        spark, os.path.join(scratch, "sitemap-*.xml"), strict=True
    ).select("loc")
    normed = locs.select(
        urls.normalize_url("loc").alias("url_norm")
    ).withColumn("host", urls.url_host(F.col("url_norm")))
    frontier = (
        normed.withColumn(
            "etld1", urls.registrable_domain(F.col("host"))
        )
        .groupBy("url_norm", "host", "etld1")
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )
    # robots rules, in-plan: odd groups disallow the /path prefix
    rules = (
        frontier.select("host", "url_norm")
        .withColumn(
            "g",
            F.regexp_extract("url_norm", r"/path(\d+)$", 1).cast("long"),
        )
        .filter(F.col("g") % 2 == 1)
        .select(
            "host",
            F.lit("disallow").alias("rule"),
            F.lit("/path").alias("path"),
        )
    )
    return robots.filter_crawlable(frontier, rules).filter(
        F.col("allowed")
    ).select("url_norm", "host", "etld1", "n_dups")


@register(
    "jsonl_roundtrip",
    """
    SELECT doc_id, lang, source, n_chars, text
    FROM documents WHERE doc_id % 7 = 0
    """,
    doc="JSONL source/sink e2e: documents subset -> newline-delimited JSON "
    "(multi-part parallel write) -> schema-explicit read back (no "
    "inference pass) with PERMISSIVE corrupt-line capture armed; value "
    "parity against the source parquet proves the interchange path a "
    "training-data pipeline ingests crawl dumps through.",
)
def q_jsonl_roundtrip(spark, sf_dir):
    from etl_excel_csv_sql_spark.io import jsonl

    scratch = _scratch("jsonl_roundtrip")
    path = os.path.join(scratch, "docs.jsonl")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", "lang", "source", "n_chars", "text")
    )
    jsonl.write_jsonl(docs, path)
    out = jsonl.read_jsonl(
        spark,
        path,
        schema="doc_id bigint, lang string, source string, "
        "n_chars bigint, text string",
        capture_corrupt=True,
    )
    # a corrupt line would surface as a non-null _corrupt_record row with
    # null data fields; the clean roundtrip must produce none, and the
    # driver's value hash checks every surviving field. The filter also
    # references doc_id: Spark forbids plans whose only referenced column
    # from a raw JSON scan is the internal corrupt-record column (a bare
    # count() would prune down to exactly that).
    return out.filter(
        F.col("doc_id").isNotNull() & F.col(jsonl.CORRUPT_COL).isNull()
    ).select("doc_id", "lang", "source", "n_chars", "text")


@register(
    "dedup_incremental_minhash",
    # r12 (VERDICT r11 #5, extended): rows-only → FULL value oracle via
    # the synth_shingle_docs twin contract applied to the INCREMENTAL
    # shape: the persisted index holds the 80% corpus slice (doc_id % 5
    # != 0), the incoming batch is the whitespace twin of EVERY doc.
    # A corpus member's twin has an IDENTICAL signature → co-bucketed in
    # every band, matching-lane estimate exactly 32/32 = 1.0; a held-out
    # doc's twin has no original in the index and pairs with nothing
    # (cross-doc collisions need ≥16 of 32 identical minhashes — the
    # same pure-Python shingle-disjointness pin as minhash_lsh_pairs
    # bounds true Jaccard at 0.0, and test_dedup pins the operator
    # output == the twin enumeration on the gate id set). Both contract
    # lanes stay: guaranteed catches AND novel-doc silence.
    """
    SELECT doc_id + 1000000 AS new_id,
           doc_id AS corpus_id,
           CAST(1.0 AS DOUBLE) AS est_jaccard
    FROM documents
    WHERE doc_id % 5 <> 0
    """,
    doc="INCREMENTAL dedup against a persisted MinHash-LSH index "
    "(dedup.MinHashIndex): corpus signatures+buckets built once "
    "(fingerprinted build-once reuse), then an incoming batch — twins "
    "of corpus docs (guaranteed catches: every lane matches) plus twins "
    "of held-out docs (novel: no rows) — is checked by a narrow "
    "signature map + bucket hash-join + matching-lane estimate. The "
    "production shape: corpus text is never re-read, incremental cost "
    "is O(|batch| + touched buckets). Closed-form twin contract — full "
    "value oracle",
)
def q_dedup_incremental_minhash(spark, sf_dir):
    from etl_excel_csv_sql_spark.operators import dedup
    from etl_excel_csv_sql_spark.operators.dedup import MinHashIndex

    scratch = _scratch_keep(
        "minhash_index_" + os.path.basename(sf_dir.rstrip("/"))
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    synth = dedup.synth_shingle_docs(docs)
    corpus = synth.filter(F.col("doc_id") % 5 != 0)
    index = MinHashIndex(os.path.join(scratch, "idx"))
    index.build(corpus, "doc_id", "text", skip_if_exists=True)
    batch = dedup.synth_shingle_docs(docs, id_offset=1_000_000, twin=True)
    return index.query(batch, "doc_id", "text", threshold=0.5)


@register(
    "events_streaming_merge_upsert",
    """
    SELECT event_id, event_type,
           CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE)
           + CASE WHEN event_id % 2 = 0 THEN 1000.0 ELSE 0.0 END AS value
    FROM events
    """,
    doc="streaming warehouse ingest, end-to-end: two file micro-batches "
    "(maxFilesPerTrigger=1, pinned mtimes) — batch 1 carries the even "
    "events duplicated in-batch, batch 2 the odd events plus REPLAYED "
    "even events with value+1000 — flow through foreachBatch → in-batch "
    "dropDuplicates → ParquetMergeSink.upsert keyed on event_id. Value "
    "parity proves in-batch dedup, cross-batch key replacement (update "
    "beats insert), and idempotent final state: every even event must "
    "carry exactly one +1000 row.",
)
def q_events_streaming_merge_upsert(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io.jdbc import ParquetMergeSink

    scratch = _scratch(
        "events_merge_upsert_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "in")
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("value").cast("decimal(18,4)").cast("double").alias("value"),
    )
    even = ev.filter(F.col("event_id") % 2 == 0)
    odd = ev.filter(F.col("event_id") % 2 == 1)
    replayed = even.withColumn("value", F.col("value") + F.lit(1000.0))
    _write_single_parquet(
        even.unionAll(even), scratch, os.path.join(src, "b1.parquet"), 1_000_000
    )
    _write_single_parquet(
        odd.unionByName(replayed), scratch, os.path.join(src, "b2.parquet"), 1_000_010
    )

    sink = ParquetMergeSink(path=os.path.join(scratch, "table"), keys=["event_id"])

    def _merge(batch_df, _batch_id):
        sink.upsert(batch_df.sparkSession, batch_df.dropDuplicates(["event_id"]))

    schema = spark.read.parquet(os.path.join(src, "b1.parquet")).schema
    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(_merge)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return sink.read(spark).select("event_id", "event_type", "value")


@register(
    "orc_roundtrip",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate_str,
           o_orderpriority
    FROM orders WHERE o_orderkey % 5 = 0
    """,
    doc="ORC columnar source/sink e2e: orders subset -> native vectorized "
    "ORC write (zlib, stripe-splittable) -> schema-pinned read back; "
    "value parity against the source parquet (timestamps cross as "
    "strings per convention) proves the Hive-lineage interchange path. "
    "Scan-side machinery matches parquet: pushdown + pruning + "
    "splittable stripes, so a 100 TB ORC lake reads with identical "
    "parallelism.",
)
def q_orc_roundtrip(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import orc_io

    scratch = _scratch("orc_roundtrip")
    path = os.path.join(scratch, "orders_orc")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 5 == 0
    )
    orc_io.write_orc(orders, path)
    out = orc_io.read_orc(
        spark,
        path,
        schema="o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
            "o_orderdate_str"
        ),
        "o_orderpriority",
    )


@register(
    "events_streaming_approx_users",
    None,
    doc="streaming + mergeable sketches composed: hourly tumbling windows "
    "with approx_count_distinct(user_id) under a watermark — EXACT "
    "distinct aggregation is unsupported in streaming (it would need "
    "unbounded per-window value state); the HLL++ sketch is the "
    "documented scale path (bounded state per window regardless of user "
    "cardinality). Rows-only: estimates are algorithm-specific; pytest "
    "asserts <=5%% error vs the batch exact distinct per window",
)
def q_events_streaming_approx_users(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.streaming.windows import with_watermark

    scratch = _scratch(
        "events_approx_users_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "events_in")
    load_table(spark, sf_dir, "events").select(
        "ts", "user_id"
    ).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        with_watermark(stream, "ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "approx_users",
            "n_events",
        )
    )
    sink_name = _next_sink_name(spark, "evt_approx_users")
    (
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink_name).select(
        "window_start", "approx_users", "n_events"
    )


@register(
    "events_streaming_enriched",
    """
    SELECT strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           c.c_mktsegment AS segment,
           count(*) AS n_events
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    doc="stream-static dimension enrichment e2e: events stream joined to "
    "the customer dim (explicit broadcast — per micro-batch the join is "
    "map-side, the stream never shuffles for the lookup; static side "
    "re-read per batch per Spark's slowly-changing-dim semantics) then "
    "hourly windowed counts by market segment, complete mode over a "
    "bounded replay == the batch join+aggregate, so the full value "
    "oracle applies to the streaming path",
)
def q_events_streaming_enriched(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.streaming.joins import stream_static_enrich
    from etl_excel_csv_sql_spark.streaming.windows import with_watermark

    scratch = _scratch(
        "events_enriched_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "events_in")
    load_table(spark, sf_dir, "events").select(
        "ts", "user_id"
    ).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = stream_static_enrich(
        with_watermark(stream, "ts", "2 hours"), dim, "user_id", "c_custkey"
    )
    agg = (
        enriched.groupBy(
            F.window("ts", "1 hour"), F.col("c_mktsegment").alias("segment")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "segment",
            "n_events",
        )
    )
    sink_name = _next_sink_name(spark, "evt_enriched")
    (
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    # per-window distinct users deliberately NOT in this output: exact
    # distinct is unsupported in streaming and the sketch path has its
    # own rows-only query (events_streaming_approx_users)
    return spark.table(sink_name).select("window_start", "segment", "n_events")


@register(
    "fixed_width_roundtrip",
    """
    SELECT c_custkey, c_name, c_mktsegment,
           CAST(floor(c_acctbal) AS BIGINT) AS acctbal_int
    FROM customer
    """,
    doc="fixed-width text source/sink (io/fixed_width.py — the "
    "mainframe/legacy-feed sibling of the reference's CSV surface): "
    "write = rpad/concat column expressions to text (splittable files); "
    "read = spark.read.text + SUBSTRING slices, pure Catalyst (column "
    "pruning drops unused slices, no Python per row). Round-trip of a "
    "customer projection vs the source table is the full value oracle; "
    "acctbal goes through floor->int since fixed-width carries no "
    "decimal-point contract by default",
)
def q_fixed_width_roundtrip(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import fixed_width as fw

    spec = [
        ("c_custkey", 12, "bigint"),
        ("c_name", 30, "string"),
        ("c_mktsegment", 12, "string"),
        ("acctbal_int", 14, "bigint"),
    ]
    scratch = _scratch("fixed_width_" + os.path.basename(sf_dir.rstrip("/")))
    path = os.path.join(scratch, "cust_fw")
    src = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.floor("c_acctbal").cast("bigint").alias("acctbal_int"),
    )
    fw.write_fixed_width(src, path, spec)
    return fw.read_fixed_width(spark, path, spec)


# ---------------------------------------------------------------------------
# Warehouse layout maintenance: partition pruning + small-file compaction
# ---------------------------------------------------------------------------

@register(
    "partition_pruned_read",
    """
    SELECT event_id, event_type, strftime(ts, '%Y-%m-%d') AS event_date
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') IN ('2024-01-05', '2024-01-17')
    """,
    doc="directory-partitioned write (io/warehouse.write_partitioned, "
    "partitionBy event_date) + pruned read-back of 2 of 30 day "
    "directories: the filter binds to the PARTITION column so the scan "
    "touches only matching directories (PartitionFilters — plan-asserted "
    "in tests/test_warehouse.py, the layout that turns a 100 TB "
    "time-range query into a per-day scan). Full value oracle vs the "
    "unpartitioned source",
)
def q_partition_pruned_read(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io.warehouse import write_partitioned

    scratch = _scratch("part_events_" + os.path.basename(sf_dir.rstrip("/")))
    path = os.path.join(scratch, "events_by_day")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    write_partitioned(ev, path, ["event_date"])
    return (
        spark.read.parquet(path)
        .filter(F.col("event_date").isin("2024-01-05", "2024-01-17"))
        .select("event_id", "event_type", "event_date")
    )


@register(
    "compact_small_files_report",
    None,
    doc="small-file compaction (io/warehouse.compact_small_files — the "
    "OPTIMIZE maintenance op): a deliberately over-parallel 64-file "
    "write is rewritten into target-size files (count derived from the "
    "SOURCE byte total via the Hadoop FileSystem API — filesystem-"
    "agnostic, not local-only; round-robin repartition for uniform "
    "output sizes). Rows-only report (file counts/bytes are "
    "environment-dependent); tests/test_warehouse.py asserts file-count "
    "collapse and row preservation",
)
def q_compact_small_files_report(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io.warehouse import compact_small_files

    scratch = _scratch("compact_" + os.path.basename(sf_dir.rstrip("/")))
    src = os.path.join(scratch, "small")
    dst = os.path.join(scratch, "compacted")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    li.repartition(64).write.mode("overwrite").parquet(src)
    return compact_small_files(spark, src, dst, target_bytes=8 * 1024 * 1024)


@register(
    "events_stream_stream_full_join",
    # Completes the stream-stream join matrix (inner / left_outer /
    # full_outer). Matched pairs emit on arrival (== batch join).
    # Never-matched CLICKS finalize once the global min-watermark
    # strictly passes click_ts + interval (same rule the left-outer
    # query calibrated); never-matched VIEWS finalize once it strictly
    # passes view_ts itself (a view can only match EARLIER clicks, so
    # its last possible partner is a click at view_ts - epsilon, making
    # view_ts the eviction horizon). Both rules verified empirically
    # against this engine before being encoded here.
    """
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
         v AS (SELECT * FROM events WHERE event_type = 'view'),
         wm AS (
           SELECT least(date_trunc('millisecond', (SELECT max(ts) FROM c)),
                        date_trunc('millisecond', (SELECT max(ts) FROM v)))
                  - INTERVAL 8 HOUR AS w
         )
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
    FROM c JOIN v
      ON c.user_id = v.user_id
     AND v.ts > c.ts AND v.ts <= c.ts + INTERVAL 4 HOUR
    UNION ALL
    SELECT c.event_id, CAST(NULL AS BIGINT), c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S'), CAST(NULL AS VARCHAR)
    FROM c, wm
    WHERE NOT EXISTS (
            SELECT 1 FROM v
            WHERE v.user_id = c.user_id
              AND v.ts > c.ts AND v.ts <= c.ts + INTERVAL 4 HOUR
          )
      AND c.ts + INTERVAL 4 HOUR < wm.w
    UNION ALL
    SELECT CAST(NULL AS BIGINT), v.event_id, v.user_id,
           CAST(NULL AS VARCHAR), strftime(v.ts, '%Y-%m-%d %H:%M:%S')
    FROM v, wm
    WHERE NOT EXISTS (
            SELECT 1 FROM c
            WHERE c.user_id = v.user_id
              AND v.ts > c.ts AND v.ts <= c.ts + INTERVAL 4 HOUR
          )
      AND wm.w > v.ts
    """,
    doc="FULL-OUTER stream-stream interval join e2e: matched pairs emit "
    "on arrival; unmatched rows from EACH side emit with nulls at that "
    "side's watermark-finalization horizon (click_ts+interval for the "
    "left, view_ts for the right) — the oracle rebuilds both horizons",
)
def q_events_stream_stream_full_join(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    scratch = _scratch(
        "events_stream_fjoin_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "in")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    ev.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def side(event_type: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .filter(F.col("event_type") == event_type)
        )

    joined = stream_stream_interval_join(
        side("click"), side("view"), "user_id", "ts",
        interval="4 hours", watermark="8 hours", how="full_outer",
    ).select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("view_id"),
        F.coalesce(F.col("l.user_id"), F.col("r.user_id")).alias("user_id"),
        F.date_format(F.col("l.ts"), "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format(F.col("r.ts"), "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
    )
    sink_name = _next_sink_name(spark, "evt_ss_fjoin")
    (
        joined.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink_name).select(
        "click_id", "view_id", "user_id", "click_ts", "view_ts"
    )


@register(
    "settings_datasource_scan",
    """
    SELECT * FROM (VALUES
      ('alpha', 'alpha_export_settings.txt', 'SourceFolder', '/data/in'),
      ('alpha', 'alpha_export_settings.txt', 'Fields', 'a, b ,c'),
      ('alpha', 'alpha_export_settings.txt', 'Enabled', 'true'),
      ('beta',  'beta_export_settings.txt',  'SourceFolder', '/data/beta'),
      ('beta',  'beta_export_settings.txt',  'Table', 'dbo.Beta'),
      ('gamma', 'gamma_export_settings.txt', 'SourceFolder', '/data/g'),
      ('gamma', 'gamma_export_settings.txt', 'Retention', '30')
    ) AS t(source, file, key, value)
    """,
    doc="the settings catalog as a REGISTERED Spark data source (Spark 4 "
    "Python DataSource API, io/settings_datasource.py): spark.read."
    "format('kv_settings') plans ONE INPUT PARTITION PER FILE on the "
    "driver (cheap listing) and parses file content ON EXECUTORS — the "
    "distributed path for 100k-file catalogs vs the driver-side loop; "
    "both = and == delimiters and later-duplicate-wins parse semantics "
    "ride the same io/settings.py parser (S4/S6). Fixed fixture files "
    "→ literal VALUES oracle",
)
def q_settings_datasource_scan(spark, sf_dir):
    from etl_excel_csv_sql_spark.io.settings_datasource import (
        register_kv_settings,
    )

    scratch = _scratch("settings_ds_" + os.path.basename(sf_dir.rstrip("/")))
    files = {
        "alpha_export_settings.txt": (
            "# catalog entry\n"
            "SourceFolder=/data/in\n"
            "Fields=a, b ,c\n"
            "Enabled==false\n"
            "Enabled==true\n"  # later duplicate wins
        ),
        "beta_export_settings.txt": (
            "SourceFolder==/data/beta\nTable==dbo.Beta\n\n"
        ),
        "gamma_export_settings.txt": (
            "SourceFolder=/data/g\nRetention=30\n"
        ),
        "ignored_other_suffix.txt": "X=1\n",  # suffix filter must skip
    }
    for name, body in files.items():
        with open(os.path.join(scratch, name), "w", encoding="utf-8") as fh:
            fh.write(body)
    register_kv_settings(spark)
    return (
        spark.read.format("kv_settings")
        .option("suffix", "_export_settings.txt")
        .load(scratch)
    )


@register(
    "events_streaming_progress_report",
    None,
    doc="streaming observability (streaming/monitor.py): per-micro-batch "
    "StreamingQueryProgress reshaped into a typed frame — input rows, "
    "per-operator STATE size (the watermark-bound check), rows dropped "
    "by watermark, watermark position; the engine emits these for free "
    "per batch (no extra pass over the stream — the streaming twin of "
    "the batch Observation API). Rows-only: batch boundaries are "
    "environment-dependent; pytest asserts the invariants (input-row "
    "total == source count, bounded state, monotone watermark)",
)
def q_events_streaming_progress_report(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.streaming.monitor import progress_report
    from etl_excel_csv_sql_spark.streaming.windows import stream_tumbling_agg

    scratch = _scratch(
        "events_stream_progress_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "in")
    load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    ).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = stream_tumbling_agg(stream, "ts", "1 hour", watermark="2 hours")
    sink_name = _next_sink_name(spark, "evt_progress")
    q = (
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return progress_report(spark, q)


@register(
    "events_streaming_soak_50_batches",
    None,
    doc="streaming state-stability soak (VERDICT r6 #8): the events table "
    "sliced into 50 time-ordered micro-batches (pinned ascending mtimes, "
    "maxFilesPerTrigger=1) driven through a watermarked 6-hour tumbling "
    "aggregate in update mode -> foreachBatch ParquetMergeSink.upsert "
    "keyed on (window_start, event_type) — the streaming-warehouse "
    "pattern at ~50x the batch count of the other streaming queries. "
    "Returns the per-micro-batch progress frame (streaming/monitor.py): "
    "because event time advances batch over batch, the watermark evicts "
    "closed windows and state_rows_total stays FLAT (bounded by the "
    "watermark horizon, ~3 active windows x |event_type|) instead of "
    "growing with batch count — the evidence that watermark bounds hold "
    "over a long run, heap size notwithstanding. Rows-only: exact batch "
    "boundaries are environment-dependent; pytest asserts the invariants "
    "(>=45 batches, input total == source count, late-batch state no "
    "larger than mid-run state, sink == per-window aggregates).",
)
def q_events_streaming_soak(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io.jdbc import ParquetMergeSink
    from etl_excel_csv_sql_spark.streaming.monitor import progress_report

    n_chunks = 50
    scratch = _scratch(
        "events_stream_soak_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "in")
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", F.col("value").cast("double").alias("value")
    )
    ev.persist()
    try:
        bounds = ev.agg(
            F.min(F.unix_timestamp("ts")).alias("lo"),
            F.max(F.unix_timestamp("ts")).alias("hi"),
        ).first()
        lo, hi = int(bounds["lo"]), int(bounds["hi"])
        span = max(1, hi - lo + 1)
        chunk = F.least(
            F.lit(n_chunks - 1),
            F.floor(
                F.lit(n_chunks) * (F.unix_timestamp("ts") - F.lit(lo)) / F.lit(span)
            ),
        )
        chunked = ev.withColumn("chunk", chunk)
        # ONE partitioned write (repartition by chunk → each chunk lands
        # in exactly one task → one file per chunk dir), then promote the
        # part files to flat b{i}.parquet names with pinned ascending
        # mtimes — 50 micro-batch files from a single Spark job instead
        # of 50 filter+coalesce jobs
        staged = os.path.join(scratch, "staged")
        (
            chunked.repartition(n_chunks, "chunk")
            .write.partitionBy("chunk")
            .parquet(staged)
        )
        import glob as _glob

        for i in range(n_chunks):
            parts = _glob.glob(os.path.join(staged, f"chunk={i}", "*.parquet"))
            dst = os.path.join(src, f"b{i:02d}.parquet")
            if not parts:
                continue  # empty time slice (possible at tiny scales)
            if len(parts) == 1:
                shutil.move(parts[0], dst)
            else:
                # repartition(n, chunk) + partitionBy normally yields ONE
                # file per chunk dir (a chunk lives in exactly one task;
                # hash collisions merge tasks, not split dirs — r10
                # review corrected the old comment), but session confs
                # like spark.sql.files.maxRecordsPerFile CAN split a
                # directory — merge to keep the one-file-per-micro-batch
                # contract under any conf
                _write_single_parquet(
                    spark.read.parquet(os.path.join(staged, f"chunk={i}")),
                    scratch, dst, 2_000_000 + i * 10,
                )
            os.utime(dst, (2_000_000 + i * 10, 2_000_000 + i * 10))
        shutil.rmtree(staged)
    finally:
        ev.unpersist()

    sink = ParquetMergeSink(
        path=os.path.join(scratch, "table"),
        keys=["window_start", "event_type"],
    )

    def _merge(batch_df, _batch_id):
        flat = batch_df.select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "value_sum",
            "n",
        )
        sink.upsert(batch_df.sparkSession, flat)

    schema = spark.read.parquet(os.path.join(src, "b00.parquet")).schema
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
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(_merge)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return progress_report(spark, q)


@register(
    "ann_ivf_upsert_topk",
    # r12 (VERDICT r11 #5, extended): rows-only → FULL value oracle via
    # the same planted one-hot geometry + bring-your-own-centroids path
    # that oracled ann_ivf_persisted_topk, applied to the UPSERT
    # lifecycle: build on the 80% slice (vec_id % 5 != 0) under the 16
    # axis centroids, upsert the held-out 20% — each one-hot lands in
    # exactly cell (vec_id mod 16), cosine 1 vs 0, no ties — so the
    # post-upsert corpus is COMPLETE (every id 0..N-1 present) and probe
    # q's top-3 is the literal enumeration (q mod 16) + 16j, cosine
    # exactly 1.0, rank by id asc. Probes are the 20 upserted vectors
    # with vec_id < 100 (deterministic — the old limit(20) was
    # order-dependent and un-oracle-able). pytest
    # (test_ivf_index_upsert_incremental) still covers replaced-id
    # uniqueness, row accounting, and untouched-partition mtimes on the
    # real-embedding path.
    """
    SELECT e.vec_id + 7000000 AS query_id,
           (e.vec_id % 16) + 16 * j.j AS neighbor_id,
           CAST(1.0 AS DOUBLE) AS cosine,
           CAST(j.j + 1 AS INT) AS rank
    FROM embeddings e,
         (SELECT unnest(generate_series(0, 2)) AS j) j
    WHERE e.vec_id % 5 = 0 AND e.vec_id < 100
    """,
    doc="incremental IVF index maintenance (similarity.IvfIndex.upsert): "
    "build on 80% of the corpus, then UPSERT the held-out 20% — new "
    "vectors assigned by the EXISTING centroids (no refit), ONLY "
    "affected partitions rewritten via dynamic partition overwrite (the "
    "production path for a continuously-ingesting corpus; a full "
    "rebuild over 100 TB is what an index exists to avoid). Planted "
    "cluster geometry makes the post-upsert top-k closed-form — full "
    "value oracle; every probe finds its exact copy at cosine 1.0",
)
def q_ann_ivf_upsert(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.operators.similarity import (
        IvfIndex,
        synth_cluster_centroids,
        synth_cluster_embeddings,
    )

    scratch = _scratch(
        "ivf_upsert_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    emb = synth_cluster_embeddings(ids)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    idx = IvfIndex(os.path.join(scratch, "idx"))
    idx.build(base, n_cells=16, centroids=synth_cluster_centroids(spark))
    held_out = emb.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id", "embedding"
    )
    idx.upsert(held_out)
    probes = held_out.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 7_000_000).alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    res = idx.query(probes, k=3, n_probe=4)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cosine"), 6).alias("cosine"),
        "rank",
    )


@register(
    "events_streaming_dedup_watermarked",
    # Full value oracle for dropDuplicatesWithinWatermark's THREE
    # behaviors at once, over a deterministic 3-micro-batch replay
    # (maxFilesPerTrigger=1, pinned mtimes, empty arm batch per
    # SPARK-24634 two-watermark semantics):
    #   b0: first-2-days slice UNIONed with itself -> in-watermark
    #       duplicates are dropped (b1 contributes its DISTINCT rows);
    #   arm: empty batch lets b0's watermark take effect and evict
    #       state for keys whose first sighting + 1h delay is below it;
    #   b2: days 6-8 slice (all new ids, all kept) PLUS the 20 earliest
    #       b0 events re-emitted with ts+6d — their key state was
    #       EVICTED, so they are re-admitted (the bounded-state
    #       tradeoff made visible: a late re-occurrence past the delay
    #       is a new row, by design).
    # Expected output == b1 ∪ b2 ∪ the 20 re-emits, exactly.
    """
    WITH m AS (SELECT min(ts) AS m0 FROM events),
    b1 AS (
      SELECT event_id, ts, event_type, value FROM events, m
      WHERE ts < m0 + INTERVAL 2 DAY
    ),
    b2 AS (
      SELECT event_id, ts, event_type, value FROM events, m
      WHERE ts >= m0 + INTERVAL 6 DAY AND ts < m0 + INTERVAL 8 DAY
    ),
    re AS (
      SELECT event_id, ts + INTERVAL 6 DAY AS ts, event_type, value
      FROM b1 ORDER BY ts, event_id LIMIT 20
    )
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           event_type,
           CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS value
    FROM (SELECT * FROM b1
          UNION ALL SELECT * FROM b2
          UNION ALL SELECT * FROM re)
    """,
    doc="streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark "
    "over a 3-batch replay proves in-watermark duplicates drop, state "
    "evicts past the 1h delay, and an evicted key's re-occurrence is "
    "re-admitted — the 100 TB dedup contract (unbounded-key streams "
    "cannot keep state forever; dedupe_stream_forever documents the "
    "bounded-domain alternative). Oracle reconstructs the exact "
    "expected union",
)
def q_events_streaming_dedup_watermarked(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.streaming.dedup import (
        dedupe_stream_within_watermark,
    )

    scratch = _scratch(
        "events_stream_dedup_wm_" + os.path.basename(sf_dir.rstrip("/"))
    )
    src = os.path.join(scratch, "in")
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type",
        F.col("value").cast("decimal(18,4)").cast("double").alias("value"),
    )
    m0 = ev.agg(F.min("ts").alias("m0"))
    based = ev.crossJoin(F.broadcast(m0))
    b1 = based.where(
        F.col("ts") < F.col("m0") + F.expr("INTERVAL 2 DAYS")
    ).drop("m0")
    b2 = based.where(
        (F.col("ts") >= F.col("m0") + F.expr("INTERVAL 6 DAYS"))
        & (F.col("ts") < F.col("m0") + F.expr("INTERVAL 8 DAYS"))
    ).drop("m0")
    re_emit = (
        b1.orderBy("ts", "event_id")
        .limit(20)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 6 DAYS"))
    )
    empty = ev.limit(0)
    _write_single_parquet(
        b1.unionAll(b1), scratch, os.path.join(src, "b0.parquet"), 1_000
    )
    _write_single_parquet(
        empty, scratch, os.path.join(src, "b1_arm.parquet"), 2_000
    )
    _write_single_parquet(
        b2.unionAll(re_emit), scratch, os.path.join(src, "b2.parquet"), 3_000
    )
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = dedupe_stream_within_watermark(
        stream, ["event_id"], ts_col="ts", delay="1 hour"
    )
    sink_name = _next_sink_name(spark, "evt_dedup_wm_stream")
    (
        deduped.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink_name).select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        "value",
    )


@register(
    "csv_permissive_quarantine",
    # Full value oracle for BOTH halves of permissive ingestion: the
    # good rows come back typed and byte-equal to the source slice; the
    # three injected garbage lines come back null-typed with the raw
    # line preserved in corrupt_record. DROPMALFORMED would lose the
    # garbage silently; FAILFAST would kill the job — this is the
    # accounted-for-every-row mode.
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DOUBLE) AS quantity,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
           CAST(NULL AS VARCHAR) AS corrupt_record
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT NULL, NULL, NULL, NULL, garbage FROM (
      VALUES ('###not-a-row###'),
             ('x,y'),
             ('1,notanint,alpha,beta')
    ) g(garbage)
    """,
    doc="PERMISSIVE CSV ingestion with corrupt-record quarantine "
    "(io/csv_io.read_csv_permissive) — the ingestion half of the T3 "
    "poison-row contract: a lineitem slice plus 3 injected malformed "
    "lines round-trips through CSV; good rows return typed and "
    "value-equal, bad rows return null-typed with the raw line "
    "retained. The oracle reconstructs both halves exactly",
)
def q_csv_permissive_quarantine(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io.csv_io import read_csv_permissive

    scratch = _scratch(
        "csv_permissive_" + os.path.basename(sf_dir.rstrip("/"))
    )
    csv_dir = os.path.join(scratch, "in_csv")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 100 == 0
    )
    (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity")
            .cast("decimal(18,4)")
            .cast("double")
            .alias("quantity"),
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(csv_dir)
    )
    # inject malformed lines into the single part file, after the header
    import glob as _glob

    (part,) = _glob.glob(os.path.join(csv_dir, "part-*.csv"))
    with open(part, "a", encoding="utf-8") as fh:
        fh.write("###not-a-row###\n")
        fh.write("x,y\n")
        fh.write("1,notanint,alpha,beta\n")
    # the append invalidates Hadoop's .crc sidecar for the part file —
    # drop the checksums or the re-read fails with ChecksumException
    for crc in _glob.glob(os.path.join(csv_dir, ".*.crc")):
        os.remove(crc)
    out = read_csv_permissive(
        spark,
        csv_dir,
        "l_orderkey bigint, l_linenumber int, quantity double, ship_day string",
    )
    # PERMISSIVE keeps FIELDS that parsed even on a quarantined row
    # ('1,notanint,alpha,beta' keeps l_orderkey=1) — normalize to a
    # binary split for the report: typed columns null whenever the raw
    # line is quarantined
    good = F.col("corrupt_record").isNull()
    return out.select(
        F.when(good, F.col("l_orderkey")).alias("l_orderkey"),
        F.when(good, F.col("l_linenumber")).alias("l_linenumber"),
        F.when(good, F.col("quantity")).alias("quantity"),
        F.when(good, F.col("ship_day")).alias("ship_day"),
        "corrupt_record",
    )


@register(
    "dpp_partition_pruned_revenue",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE year(o_orderdate) IN (1995, 1996)
    GROUP BY 1
    """,
    doc="DYNAMIC PARTITION PRUNING evidence — the TPC-DS headline "
    "optimization: orders land directory-partitioned by year in "
    "scratch; the fact scan joins a tiny independent era dimension "
    "whose filter (era='early') only resolves at runtime, and Spark "
    "injects a dynamicpruning subquery into the scan's "
    "PartitionFilters so only the 2 matching year directories are "
    "read (asserted on the executed plan in "
    "tests/test_plan_quality.py). The oracle computes the same "
    "revenue with the era predicate inlined — value-proving that "
    "pruning changed the scan, not the answer",
)
def q_dpp_partition_pruned_revenue(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io.warehouse import write_partitioned

    # _scratch_keep: _scratch wipes the directory per call, which made
    # the build-once marker dead code — the partitioned table was
    # rewritten on every invocation (r10 review). The marker carries a
    # SOURCE fingerprint (size+mtime of orders.parquet), same pattern
    # as the IVF/MinHash index manifests: a regenerated testdata drop
    # must rebuild, not leave Spark scanning a stale partitioned table
    # while the oracle reads the new parquet.
    scratch = _scratch_keep("dpp_" + os.path.basename(sf_dir.rstrip("/")))
    path = os.path.join(scratch, "orders_by_year")
    marker = os.path.join(scratch, ".written")
    src = os.path.join(sf_dir, "orders.parquet")
    st = os.stat(src)
    fingerprint = f"{st.st_size}:{st.st_mtime_ns}"
    stale = True
    if os.path.exists(marker):
        with open(marker) as fh:
            stale = fh.read().strip() != fingerprint
    if stale:
        orders = load_table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        )
        write_partitioned(orders, path, ["o_year"])
        with open(marker, "w") as fh:
            fh.write(fingerprint)
    fact = spark.read.parquet(path)
    era_dim = spark.createDataFrame(
        [(y, "early" if y <= 1996 else "late") for y in range(1995, 2002)],
        "o_year int, era string",
    )
    pruned = fact.join(
        F.broadcast(era_dim.where(F.col("era") == "early")), "o_year"
    )
    return pruned.groupBy("o_year").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("revenue")
    )


@register(
    "crawl_delta_ingest_e2e",
    # r15 capstone (VERDICT r14 #6): the monthly-recrawl shape — two
    # planted snapshots diffed with crawl_revisit_diff, and ONLY the
    # delta pays the expensive stages: new+changed flow into
    # extract_web_text + exact dedup (action=ingest), gone retires
    # its index entry (action=retire), unchanged skips with ZERO
    # text work (action=skip — its html never reaches the Arrow
    # pass). Lanes by doc_id % 4: 0 = both snapshots, same body
    # (unchanged); 1 = body updated (changed); 2 = curr-only (new),
    # with ids 2 and 6 of each 8-block sharing one body so the delta
    # dedup has real twins (keeper = min id); 3 = prev-only (gone).
    # All four lanes + the kept set are closed-form.
    """
    WITH d AS (SELECT doc_id, doc_id % 4 AS lane FROM documents),
    k AS (
      SELECT min(doc_id) AS doc_id
      FROM d WHERE lane = 2 GROUP BY doc_id // 8
    )
    SELECT doc_id,
           'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
           'changed' AS status, 'ingest' AS action,
           'updated doc ' || CAST(doc_id AS VARCHAR) || ' rev 1' AS text,
           CAST(length('updated doc ' || CAST(doc_id AS VARCHAR)
             || ' rev 1') AS BIGINT) AS n_chars
    FROM d WHERE lane = 1
    UNION ALL
    SELECT doc_id,
           'https://example.org/doc/' || CAST(doc_id AS VARCHAR),
           'new', 'ingest',
           'fresh block ' || CAST(doc_id // 8 AS VARCHAR),
           CAST(length('fresh block ' || CAST(doc_id // 8 AS VARCHAR))
             AS BIGINT)
    FROM k
    UNION ALL
    SELECT doc_id,
           'https://example.org/doc/' || CAST(doc_id AS VARCHAR),
           'unchanged', 'skip', CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT)
    FROM d WHERE lane = 0
    UNION ALL
    SELECT doc_id,
           'https://example.org/doc/' || CAST(doc_id AS VARCHAR),
           'gone', 'retire', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
    FROM d WHERE lane = 3
    """,
    doc="incremental-crawl delta ingest, one lazy plan over two WARC "
    "snapshots: read_warc x2 -> xxhash64 body fingerprints -> "
    "normalize_url -> crawl_revisit_diff (full-outer on the URL key, "
    "explicit presence markers, null-safe fp compare) -> ONLY "
    "new+changed join back to current html and pay extract_web_text "
    "+ exact_dedup_fingerprint (keeper = min id; twins planted in "
    "the new lane), gone emits retire actions, unchanged emits skip "
    "actions with no text work. At 100 TB this is the whole point of "
    "revisit diffing: a monthly recrawl re-extracts only the delta "
    "(here 3/8 of URLs), and the extraction join is "
    "semi-join-restricted to delta keys before the Arrow pass. All "
    "four lanes value-checked by the id-contract oracle",
)
def q_crawl_delta_ingest_e2e(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import warc
    from etl_excel_csv_sql_spark.operators import dedup, urls, webtext

    scratch = _scratch(
        "crawl_delta_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]

    def page(i: int, prose: str) -> dict:
        return {
            "uri": f"https://example.org/doc/{i}",
            "status": 200,
            "body_text": (
                f"<html><head><title>D{i}</title></head>"
                f"<body><p>{prose}</p></body></html>"
            ),
        }

    prev_recs, curr_recs = [], []
    for i in ids:
        lane = i % 4
        if lane == 0:
            prev_recs.append(page(i, f"stable doc {i}"))
            curr_recs.append(page(i, f"stable doc {i}"))
        elif lane == 1:
            prev_recs.append(page(i, f"old doc {i}"))
            curr_recs.append(page(i, f"updated doc {i} rev 1"))
        elif lane == 2:
            curr_recs.append(page(i, f"fresh block {i // 8}"))
        else:
            prev_recs.append(page(i, f"retired doc {i}"))

    seg = 2500  # WARC.gz is file-per-task; shard like Common Crawl
    for tag, recs in (("prev", prev_recs), ("curr", curr_recs)):
        for s0 in range(0, max(len(recs), 1), seg):
            path = os.path.join(
                scratch, f"{tag}-{s0 // seg:05d}.warc.gz"
            )
            with open(path, "wb") as f:
                f.write(
                    warc.encode_warc(
                        recs[s0 : s0 + seg], gzip_members=True
                    )
                )

    def snapshot(tag: str) -> DataFrame:
        return (
            warc.read_warc(
                spark,
                os.path.join(scratch, f"{tag}-*.warc.gz"),
                strict=True,
            )
            .filter(F.col("warc_type") == "response")
            .select(
                urls.normalize_url(F.col("target_uri")).alias(
                    "url_norm"
                ),
                F.xxhash64("text").alias("fp"),
                F.col("text").alias("html"),
            )
        )

    prev_s, curr_s = snapshot("prev"), snapshot("curr")
    diff = urls.crawl_revisit_diff(prev_s, curr_s, "url_norm", "fp")
    did = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
    # only the delta joins back to html and pays extraction
    delta = (
        diff.filter(F.col("status").isin("new", "changed"))
        .select("url", "status")
        .join(
            curr_s.select(F.col("url_norm").alias("url"), "html"),
            "url",
        )
        .withColumn("doc_id", did)
    )
    extracted = webtext.extract_web_text(
        delta.select("doc_id", "html"), "doc_id", "html"
    )
    enriched = delta.select("doc_id", "url", "status").join(
        extracted.select("doc_id", "text", "n_chars"), "doc_id"
    )
    keepers = dedup.exact_dedup_fingerprint(
        enriched, "doc_id", "text"
    ).select(F.col("keeper_id").alias("doc_id"))
    ingest = enriched.join(keepers, "doc_id", "left_semi").select(
        "doc_id", "url", "status",
        F.lit("ingest").alias("action"), "text", "n_chars",
    )
    passthrough = diff.filter(
        F.col("status").isin("unchanged", "gone")
    ).select(
        did.alias("doc_id"),
        "url",
        "status",
        F.when(F.col("status") == "gone", F.lit("retire"))
        .otherwise(F.lit("skip"))
        .alias("action"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("long").alias("n_chars"),
    )
    return ingest.unionByName(passthrough)


def _cdx_fixture(spark, sf_dir: str) -> str:
    """Shared CDXJ fixture: one capture per doc_id with every field
    closed-form in the id (urlkey composed INDEPENDENTLY of
    cdx.surt_key, so the catalog query can value-check the Catalyst
    SURT against it). Sharded into gzip files like the real cc-index."""
    import gzip

    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import cdx as cdx_io

    scratch = _scratch("cdx_" + os.path.basename(sf_dir.rstrip("/")))
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    rows = []
    for i in ids:
        rows.append(
            {
                "urlkey": (
                    f"org,example,host{i})/dir{i % 5}/page"
                    f"?a={i % 7}&b={i}"
                ),
                "ts": str(20260101000000 + i),
                "url": (
                    f"https://www.Host{i}.example.org/Dir{i % 5}"
                    f"/page?b={i}&a={i % 7}"
                ),
                "mime": (
                    "text/html", "application/pdf", "text/plain"
                )[i % 3],
                "status": str((200, 301, 404)[i % 3]),
                "digest": f"sha1:{i:08d}",
                "length": str(500 + (i % 997)),
                "offset": str((i // 4) * 2000),
                "filename": f"crawl-{i % 4:05d}.warc.gz",
            }
        )
    seg = 5000
    for s0 in range(0, max(len(rows), 1), seg):
        with gzip.open(
            os.path.join(scratch, f"cdx-{s0 // seg:05d}.gz"), "wb"
        ) as f:
            f.write(cdx_io.encode_cdx(rows[s0 : s0 + seg]))
    return os.path.join(scratch, "cdx-*.gz")


@register(
    "cdx_index_catalog",
    # r15: the CDX(J) crawl index — the FOURTH Common Crawl artifact
    # (WARC/WET/WAT/cdx): one line per capture, SURT urlkey + 14-digit
    # timestamp + a JSON locator block. The query re-computes the SURT
    # key from the capture URL in pure Catalyst (surt_recomputed) next
    # to the file's own urlkey; the oracle derives BOTH from the id
    # contract, so a divergence in either the reader or the SURT
    # transform value-fails.
    """
    SELECT 'org,example,host' || CAST(doc_id AS VARCHAR) || ')/dir'
             || CAST(doc_id % 5 AS VARCHAR) || '/page?a='
             || CAST(doc_id % 7 AS VARCHAR) || '&b='
             || CAST(doc_id AS VARCHAR) AS urlkey,
           'org,example,host' || CAST(doc_id AS VARCHAR) || ')/dir'
             || CAST(doc_id % 5 AS VARCHAR) || '/page?a='
             || CAST(doc_id % 7 AS VARCHAR) || '&b='
             || CAST(doc_id AS VARCHAR) AS surt_recomputed,
           CAST(20260101000000 + doc_id AS VARCHAR) AS ts,
           'https://www.Host' || CAST(doc_id AS VARCHAR)
             || '.example.org/Dir' || CAST(doc_id % 5 AS VARCHAR)
             || '/page?b=' || CAST(doc_id AS VARCHAR) || '&a='
             || CAST(doc_id % 7 AS VARCHAR) AS url,
           CASE doc_id % 3 WHEN 0 THEN 'text/html'
                WHEN 1 THEN 'application/pdf'
                ELSE 'text/plain' END AS mime,
           CAST(CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 301
                ELSE 404 END AS INT) AS status,
           'sha1:' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS digest,
           CAST(500 + (doc_id % 997) AS BIGINT) AS length,
           CAST((doc_id // 4) * 2000 AS BIGINT) AS "offset",
           'crawl-' || lpad(CAST(doc_id % 4 AS VARCHAR), 5, '0')
             || '.warc.gz' AS filename
    FROM documents
    """,
    doc="CDXJ crawl-index ingest (io/cdx.py, the cc-index layout): "
    "spark.read.text + ONE Catalyst projection — substring_index "
    "head tokens, from_json locator block (column pruning reaches "
    "the JSON parse: unread fields never materialize) — plus "
    "surt_key, the pure-Catalyst SURT transform (scheme/www "
    "stripped, host labels reversed comma-joined, query params "
    "sorted) recomputed from the capture URL and value-checked "
    "against the file's own urlkey. Zero Python; splittable text "
    "scan; every field id-contract checked",
)
def q_cdx_index_catalog(spark, sf_dir):
    from etl_excel_csv_sql_spark.io import cdx as cdx_io

    glob = _cdx_fixture(spark, sf_dir)
    df = cdx_io.read_cdx(spark, glob)
    return df.select(
        "urlkey",
        cdx_io.surt_key(F.col("url")).alias("surt_recomputed"),
        "ts", "url", "mime", "status", "digest", "length", "offset",
        "filename",
    )


@register(
    "cdx_fetch_plan_ranges",
    # r15: the point of a crawl index — subset 100 TB by index scan,
    # then fetch ONLY the needed gzip members via ranged reads. One
    # hash aggregation per WARC file over the locator fields.
    """
    WITH c AS (
      SELECT CAST(500 + (doc_id % 997) AS BIGINT) AS length,
             CAST((doc_id // 4) * 2000 AS BIGINT) AS "offset",
             'crawl-' || lpad(CAST(doc_id % 4 AS VARCHAR), 5, '0')
               || '.warc.gz' AS filename
      FROM documents
    )
    SELECT filename,
           count(*) AS n_records,
           CAST(sum(length) AS BIGINT) AS total_bytes,
           min("offset") AS span_start,
           max("offset" + length) AS span_end
    FROM c GROUP BY filename
    """,
    doc="ranged-fetch planning from the CDX index "
    "(cdx.cdx_fetch_plan): per WARC file, record count, total bytes, "
    "and covering byte span — what a fetch scheduler turns into HTTP "
    "Range requests; the reduction that makes subsetting a 100 TB "
    "crawl by host/mime affordable. One hash aggregation on "
    "filename; all aggregates id-contract checked",
)
def q_cdx_fetch_plan_ranges(spark, sf_dir):
    from etl_excel_csv_sql_spark.io import cdx as cdx_io

    glob = _cdx_fixture(spark, sf_dir)
    return cdx_io.cdx_fetch_plan(cdx_io.read_cdx(spark, glob))


@register(
    "cdx_ranged_fetch_e2e",
    # r15 capstone: index-driven SELECTIVE ingest — the production way
    # to subset a crawl. Three planted WARC segment files with TRUE
    # per-record gzip-member offsets (encode_warc_with_index), a CDXJ
    # index pointing at them, and the query touches ONLY the members
    # the index filter selects: filter mime='text/html' (even ids) in
    # pure Catalyst on the index scan, then ranged reads of exactly
    # those gzip members — odd ids' members are never read, let alone
    # inflated. At 100 TB this is the difference between scanning 90k
    # segments and issuing Range GETs for the 0.1% you need.
    """
    SELECT 'org,example)/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
           'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
           CAST(200 AS INT) AS status,
           'ranged doc ' || CAST(doc_id AS VARCHAR) || ' (ok)' AS text,
           CAST(length('ranged doc ' || CAST(doc_id AS VARCHAR)
             || ' (ok)') AS BIGINT) AS n_body_bytes
    FROM documents WHERE doc_id % 2 = 0
    """,
    doc="index-driven ranged crawl ingest (cdx.fetch_cdx_records): "
    "CDXJ index scan -> pure-Catalyst mime filter -> repartition by "
    "segment file, sort by offset -> one Arrow pass doing seek + "
    "exact-length ranged reads of ONLY the selected gzip members "
    "(per-member inflate completeness check, single-record frame "
    "check, same charset-aware HTTP decode as read_warc). Unselected "
    "members are never read. Offsets in the planted index are the "
    "TRUE byte offsets (encode_warc_with_index). Every output field "
    "id-contract checked",
)
def q_cdx_ranged_fetch_e2e(spark, sf_dir):
    import gzip

    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import cdx as cdx_io
    from etl_excel_csv_sql_spark.io import warc

    scratch = _scratch(
        "cdx_ranged_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    per_file: dict[int, list] = {0: [], 1: [], 2: []}
    for i in ids:
        per_file[i % 3].append(i)
    index_rows = []
    for k, members in per_file.items():
        fname = f"segment-{k:05d}.warc.gz"
        recs = [
            {
                "uri": f"https://example.org/doc/{i}",
                "status": 200,
                "body_text": f"ranged doc {i} (ok)",
                "http_content_type": "text/html",
            }
            for i in members
        ]
        payload, entries = warc.encode_warc_with_index(recs)
        with open(os.path.join(scratch, fname), "wb") as f:
            f.write(payload)
        for i, e in zip(members, entries):
            index_rows.append(
                {
                    "urlkey": f"org,example)/doc/{i}",
                    "ts": str(20260101000000 + i),
                    "url": e["uri"],
                    "mime": (
                        "text/html" if i % 2 == 0
                        else "application/pdf"
                    ),
                    "status": "200",
                    "digest": f"sha1:{i:08d}",
                    "length": str(e["length"]),
                    "offset": str(e["offset"]),
                    "filename": fname,
                }
            )
    with gzip.open(os.path.join(scratch, "cdx-00000.gz"), "wb") as f:
        f.write(cdx_io.encode_cdx(index_rows))
    idx = cdx_io.read_cdx(
        spark, os.path.join(scratch, "cdx-*.gz")
    ).filter(F.col("mime") == "text/html")
    return cdx_io.fetch_cdx_records(idx, scratch)


@register(
    "cdx_streaming_ingest_e2e",
    # r15: the STREAMING twin of cdx_ranged_fetch_e2e — cc-index
    # shards land in a drop folder (one shard per segment file, as
    # Common Crawl publishes them) and each micro-batch fetches ONLY
    # the members its shard's html subset names: stream_cdx
    # (maxFilesPerTrigger=1, checkpoint consume-once) → foreachBatch
    # { mime filter → fetch_cdx_records ranged reads } → append
    # parquet. Same id contract as the batch twin, so the oracle pins
    # that incremental shard-by-shard ingest reproduces the one-shot
    # subset byte for byte.
    """
    SELECT 'org,example)/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
           'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
           CAST(200 AS INT) AS status,
           'ranged doc ' || CAST(doc_id AS VARCHAR) || ' (ok)' AS text,
           CAST(length('ranged doc ' || CAST(doc_id AS VARCHAR)
             || ' (ok)') AS BIGINT) AS n_body_bytes
    FROM documents WHERE doc_id % 2 = 0
    """,
    doc="incremental index-driven crawl ingest: cc-index shards "
    "stream from a drop folder (stream_cdx, checkpoint "
    "consume-once, one shard per trigger) and each batch "
    "Range-fetches only ITS shard's selected gzip members "
    "(foreachBatch -> mime filter -> fetch_cdx_records -> append "
    "parquet). The monthly-snapshot shape: a new index shard "
    "landing ingests only its captures. Batch/streaming parity by "
    "shared projection; every output field id-contract checked",
)
def q_cdx_streaming_ingest_e2e(spark, sf_dir):
    import gzip

    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import cdx as cdx_io
    from etl_excel_csv_sql_spark.io import warc

    scratch = _scratch(
        "cdx_stream_" + os.path.basename(sf_dir.rstrip("/"))
    )
    seg_dir = os.path.join(scratch, "segments")
    drop = os.path.join(scratch, "drop")
    os.makedirs(seg_dir)
    os.makedirs(drop)
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    per_file: dict[int, list] = {0: [], 1: [], 2: []}
    for i in ids:
        per_file[i % 3].append(i)
    for k, members in per_file.items():
        fname = f"segment-{k:05d}.warc.gz"
        recs = [
            {
                "uri": f"https://example.org/doc/{i}",
                "status": 200,
                "body_text": f"ranged doc {i} (ok)",
                "http_content_type": "text/html",
            }
            for i in members
        ]
        payload, entries = warc.encode_warc_with_index(recs)
        with open(os.path.join(seg_dir, fname), "wb") as f:
            f.write(payload)
        shard_rows = [
            {
                "urlkey": f"org,example)/doc/{i}",
                "ts": str(20260101000000 + i),
                "url": e["uri"],
                "mime": (
                    "text/html" if i % 2 == 0 else "application/pdf"
                ),
                "status": "200",
                "digest": f"sha1:{i:08d}",
                "length": str(e["length"]),
                "offset": str(e["offset"]),
                "filename": fname,
            }
            for i, e in zip(members, entries)
        ]
        with gzip.open(
            os.path.join(drop, f"cdx-{k:05d}.gz"), "wb"
        ) as f:
            f.write(cdx_io.encode_cdx(shard_rows))
    out_dir = os.path.join(scratch, "out")

    def process(batch_df, batch_id):
        subset = batch_df.filter(F.col("mime") == "text/html")
        cdx_io.fetch_cdx_records(subset, seg_dir).write.mode(
            "append"
        ).parquet(out_dir)

    (
        cdx_io.stream_cdx(spark, drop, max_files_per_trigger=1)
        .writeStream.foreachBatch(process)
        .option(
            "checkpointLocation", os.path.join(scratch, "ckpt")
        )
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out_dir).select(
        "urlkey", "url", "status", "text", "n_body_bytes"
    )


@register(
    "cdx_cluster_lookup",
    # r15: the SECOND index level — cluster.idx names which cdx shard
    # blocks could hold a SURT prefix, so a subset job touches two
    # tiny indexes before any WARC byte moves. Fixture: 40 blocks
    # (doc_id < 40), keys org,h{id:03}, 10 blocks per shard. Prefix
    # org,h01 must hit blocks 9..19: 10..19 start inside the prefix
    # range, and block 9 straddles it (its successor key bounds its
    # range from above). Successor keys come from a seq+1 self-join,
    # not a global window.
    """
    SELECT 'org,h' || lpad(CAST(doc_id AS VARCHAR), 3, '0')
             || ')/page' AS urlkey,
           '20260101000000' AS ts,
           'cdx-' || lpad(CAST(doc_id // 10 AS VARCHAR), 5, '0')
             || '.gz' AS cdx_shard,
           CAST(doc_id * 5000 AS BIGINT) AS "offset",
           CAST(5000 AS BIGINT) AS length,
           CAST(doc_id AS BIGINT) AS seq
    FROM documents WHERE doc_id BETWEEN 9 AND 19
    """,
    doc="two-level crawl-index lookup (cdx.read_cluster_idx + "
    "cdx_shard_lookup): cluster.idx TSV blocks -> block key ranges "
    "via a partition-parallel seq+1 self-join (no global window) -> "
    "prefix-intersect filter returns the shard/offset blocks to "
    "range-read, including the straddling predecessor block. Every "
    "field id-contract checked",
)
def q_cdx_cluster_lookup(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import cdx as cdx_io

    scratch = _scratch(
        "cdx_cluster_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = sorted(
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 40)
        .collect()
    )
    rows = [
        {
            "urlkey": f"org,h{j:03d})/page",
            "ts": "20260101000000",
            "cdx_shard": f"cdx-{j // 10:05d}.gz",
            "offset": j * 5000,
            "length": 5000,
            "seq": j,
        }
        for j in ids
    ]
    with open(os.path.join(scratch, "cluster.idx"), "wb") as f:
        f.write(cdx_io.encode_cluster_idx(rows))
    cluster = cdx_io.read_cluster_idx(
        spark, os.path.join(scratch, "cluster.idx")
    )
    return cdx_io.cdx_shard_lookup(cluster, "org,h01")


@register(
    "cdx_two_level_subset_e2e",
    # r15 capstone: the COMPLETE production crawl-subset access path,
    # three ranged hops and no full scan anywhere — cluster.idx names
    # the cdx BLOCKS whose key range could hold the target host
    # (seq+1 self-join, straddling predecessor included), those gzip
    # blocks range-read and inflate into cdx lines (the real cc-index
    # shard layout: independently gzipped ~3000-line blocks chained
    # per shard), the parsed subset filters to the exact SURT prefix
    # (blocks over-approximate), and only the surviving locators
    # range-fetch their WARC members. Host h07 = doc_id % 50 == 7;
    # everything else in the corpus is never inflated.
    """
    SELECT 'org,h07)/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
           'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
           CAST(200 AS INT) AS status,
           'indexed doc ' || CAST(doc_id AS VARCHAR) || ' (ok)' AS text,
           CAST(length('indexed doc ' || CAST(doc_id AS VARCHAR)
             || ' (ok)') AS BIGINT) AS n_body_bytes
    FROM documents WHERE doc_id % 50 = 7
    """,
    doc="three-level ranged crawl subset (the full cc-index access "
    "path): read_cluster_idx -> cdx_shard_lookup (block key ranges "
    "via seq+1 self-join) -> fetch_cdx_blocks (ranged gzip-member "
    "reads of the REAL multi-member shard layout) -> "
    "parse_cdx_lines (the shared projection) -> exact SURT-prefix "
    "filter -> fetch_cdx_records (ranged WARC member reads). At "
    "100 TB this subsets one host from a monthly snapshot touching "
    "two tiny indexes plus exactly the needed bytes. Every output "
    "field id-contract checked",
)
def q_cdx_two_level_subset_e2e(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.io import cdx as cdx_io
    from etl_excel_csv_sql_spark.io import warc

    scratch = _scratch(
        "cdx_twolevel_" + os.path.basename(sf_dir.rstrip("/"))
    )
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    per_file: dict[int, list] = {0: [], 1: [], 2: []}
    for i in ids:
        per_file[i % 3].append(i)
    cdx_rows = []
    for k, members in per_file.items():
        fname = f"segment-{k:05d}.warc.gz"
        recs = [
            {
                "uri": f"https://example.org/doc/{i}",
                "status": 200,
                "body_text": f"indexed doc {i} (ok)",
                "http_content_type": "text/html",
            }
            for i in members
        ]
        payload, entries = warc.encode_warc_with_index(recs)
        with open(os.path.join(scratch, fname), "wb") as f:
            f.write(payload)
        for i, e in zip(members, entries):
            cdx_rows.append(
                {
                    "urlkey": f"org,h{i % 50:02d})/doc/{i}",
                    "ts": str(20260101000000 + i),
                    "url": e["uri"],
                    "mime": "text/html",
                    "status": "200",
                    "digest": f"sha1:{i:08d}",
                    "length": str(e["length"]),
                    "offset": str(e["offset"]),
                    "filename": fname,
                }
            )
    cdx_rows.sort(key=lambda r: (r["urlkey"], r["ts"]))
    shards, cluster_rows = cdx_io.encode_cdx_sharded(
        cdx_rows, block_lines=40, blocks_per_shard=4
    )
    for name, payload in shards.items():
        with open(os.path.join(scratch, name), "wb") as f:
            f.write(payload)
    with open(os.path.join(scratch, "cluster.idx"), "wb") as f:
        f.write(cdx_io.encode_cluster_idx(cluster_rows))

    prefix = "org,h07)"
    cluster = cdx_io.read_cluster_idx(
        spark, os.path.join(scratch, "cluster.idx")
    )
    blocks = cdx_io.cdx_shard_lookup(cluster, prefix)
    parsed = cdx_io.parse_cdx_lines(
        cdx_io.fetch_cdx_blocks(blocks, scratch)
    )
    exact = parsed.filter(F.col("urlkey").startswith(prefix))
    return cdx_io.fetch_cdx_records(exact, scratch)
