"""The per-pass record bench.py and tools/ share: ``bench.time_passes``
returns wall time plus the pass's job-group stage metrics.

The metrics come from the Spark UI's REST API and the session fixture
runs with the UI off, so the passes run in a child process with its own
small session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json
from pyspark.sql import functions as F
from bench import time_passes
from etl_excel_csv_sql_spark.session import get_spark
from perfbench.sparkstats import SparkStats

spark = get_spark("bench-record", master="local[2]", conf={
    "spark.sql.shuffle.partitions": "4", "spark.driver.memory": "1g"})
spark.sparkContext.setLogLevel("ERROR")

def build(eager):
    df = spark.range(20_000).withColumn("k", F.col("id") % 7)
    if eager:
        df.count()  # a job that runs while the frame is built
    return df.groupBy("k").agg(F.sum("id").alias("s"))

stats = SparkStats(spark)
print(json.dumps({
    "eager": time_passes(spark, stats, "eager", lambda: build(True), 2),
    "lazy": time_passes(spark, stats, "lazy", lambda: build(False), 1),
}))
spark.stop()
"""


def test_time_passes_record_per_pass():
    got = subprocess.run(
        [sys.executable, "-c", CHILD], cwd=REPO, capture_output=True,
        text=True, timeout=300,
    )
    assert got.returncode == 0, got.stderr[-2000:]
    out = json.loads(got.stdout.strip().splitlines()[-1])
    passes, (lazy,) = out["eager"], out["lazy"]
    assert len(passes) == 2
    for rec in passes:
        for key in ("wall_s", "cpu_s", "executor_run_s", "jobs", "stages",
                    "shuffle_write_bytes"):
            assert key in rec, (key, rec)
        assert rec["wall_s"] > 0
        assert rec["cpu_s"] > 0
        assert rec["shuffle_write_bytes"] > 0
        # the group is set before build(), so the eager count()'s job
        # lands in its own pass next to the noop write's
        assert rec["jobs"] >= 2
        assert rec["jobs"] > lazy["jobs"]
