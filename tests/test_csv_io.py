"""CSV source/sink lifecycle: S3 all-string read, K1 single-file write,
K2 stale-output diversion, K3 lock fallback; every reader reads back what
the writer wrote."""

from __future__ import annotations

import os
from datetime import datetime

from etl_excel_csv_sql_spark.io import csv_io


def test_roundtrip_single_file_all_string(spark, tmp_path):
    df = spark.createDataFrame(
        [("1", "a,b", None), ("2", "plain", "x")], ["id", "tricky", "opt"]
    )
    path = str(tmp_path / "out.csv")
    csv_io.write_csv_single(df, path)
    assert os.path.isfile(path)          # exactly one file, exact name (K1)
    back = csv_io.read_csv_all_string(spark, path)
    assert back.columns == ["id", "tricky", "opt"]
    assert {f.dataType.simpleString() for f in back.schema.fields} == {"string"}
    rows = {r["id"]: r for r in back.collect()}
    assert rows["1"]["tricky"] == "a,b"   # quoting survived
    assert rows["1"]["opt"] is None


def test_divert_stale_output(spark, tmp_path):
    # K2: an unconsumed previous output is moved to Error/ with the
    # reference's "Unprocessed <name> <stamp>.csv" naming, then the fresh
    # write proceeds (ExcelToCSVexport.ps1:195-210)
    path = str(tmp_path / "orders.csv")
    with open(path, "w") as fh:
        fh.write("old\n")
    err_dir = str(tmp_path / "Error")
    moved = csv_io.divert_stale_output(
        path, err_dir, now=datetime(2024, 3, 1, 14, 30)
    )
    assert moved == os.path.join(err_dir, "Unprocessed orders 2024.03.01 14.30.csv")
    assert not os.path.exists(path)
    assert os.path.exists(moved)
    # nothing to divert the second time
    assert csv_io.divert_stale_output(path, err_dir) is None


def test_write_lock_fallback(spark, tmp_path):
    # K3: when the target cannot be replaced (locked by a desktop app —
    # simulated by a directory squatting on the path), the write lands at
    # <base>_<yyyyMMdd>.csv (InvoiceFileSearchFromSQL.ps1:143-151)
    df = spark.createDataFrame([("1",)], ["id"])
    locked = tmp_path / "target.csv"
    locked.mkdir()
    (locked / "占").write_text("x")  # non-empty dir → os.remove/rmdir fails
    written = csv_io.write_csv_with_lock_fallback(
        df, str(locked), now=datetime(2024, 3, 1)
    )
    assert written == str(tmp_path / "target_20240301.csv")
    assert os.path.isfile(written)


# ---------------------------------------------------------------------------
# fixed-width source/sink (late r6)
# ---------------------------------------------------------------------------

def test_fixed_width_roundtrip_and_truncation(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_excel_csv_sql_spark.io import fixed_width as fw

    spec = [("id", 4, "bigint"), ("name", 6, "string"), ("v", 5, "int")]
    df = spark.createDataFrame(
        [(1, "ab", 10), (22, "toolongname", None), (333, "", 5)],
        "id long, name string, v int",
    )
    path = str(tmp_path / "fw")
    fw.write_fixed_width(df, path, spec)
    got = {r["id"]: r for r in fw.read_fixed_width(spark, path, spec).collect()}
    assert got[1]["name"] == "ab" and got[1]["v"] == 10
    assert got[22]["name"] == "toolon"  # overflow truncates at width
    assert got[22]["v"] is None  # NULL -> blanks -> NULL on typed read
    assert got[333]["name"] == "" or got[333]["name"] is None
    assert got[333]["v"] == 5

    # lines are truly fixed width
    import glob

    for f in glob.glob(f"{path}/part-*"):
        with open(f) as fh:
            for line in fh.read().splitlines():
                assert len(line) == 15


def test_fixed_width_read_prunes_unused_slices(spark, tmp_path):
    from etl_excel_csv_sql_spark.io import fixed_width as fw

    spec = [("a", 3, "string"), ("b", 3, "string")]
    df = spark.createDataFrame([("x", "y")], "a string, b string")
    path = str(tmp_path / "fw2")
    fw.write_fixed_width(df, path, spec)
    q = fw.read_fixed_width(spark, path, spec).select("a")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # pruned projection: only one substring slice survives
    assert plan.count("substring") <= 1


def test_read_csv_permissive_splits_good_and_quarantine(spark, tmp_path):
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_excel_csv_sql_spark.io.csv_io import read_csv_permissive

    csv_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, 10.5, "a"), (2, 20.0, "b")], "id bigint, v double, s string"
    ).coalesce(1).write.mode("overwrite").option("header", "true").csv(csv_dir)
    (part,) = glob.glob(os.path.join(csv_dir, "part-*.csv"))
    with open(part, "a", encoding="utf-8") as fh:
        fh.write("oops\n")
        fh.write("3,notadouble,c\n")
    for crc in glob.glob(os.path.join(csv_dir, ".*.crc")):
        os.remove(crc)
    out = read_csv_permissive(spark, csv_dir, "id bigint, v double, s string")
    good = out.where(F.col("corrupt_record").isNull()).collect()
    bad = out.where(F.col("corrupt_record").isNotNull()).collect()
    assert sorted((r["id"], r["v"]) for r in good) == [(1, 10.5), (2, 20.0)]
    assert sorted(r["corrupt_record"] for r in bad) == [
        "3,notadouble,c",
        "oops",
    ]
    # PERMISSIVE retains fields that DID parse on a quarantined row
    arity_ok = [r for r in bad if r["corrupt_record"].startswith("3,")][0]
    assert arity_ok["id"] == 3 and arity_ok["v"] is None


def test_write_csv_single_glob_metachars(spark, tmp_path):
    """A target named like a sheet 'Q1 [Final].csv' must round-trip —
    the unescaped glob turned '[Final]' into a character class and the
    part file was never found."""
    from etl_excel_csv_sql_spark.io import csv_io

    path = str(tmp_path / "Q1 [Final].csv")
    df = spark.createDataFrame([("a", "1")], ["c1", "c2"])
    csv_io.write_csv_single(df, path)
    # verify via plain file IO (Spark's reader itself globs paths, which
    # is out of scope here — the WRITE used to fail to find its part)
    with open(path) as f:
        lines = f.read().strip().splitlines()
    assert lines[0] == "c1,c2" and lines[1] == "a,1"
    import os
    assert not os.path.exists(path + ".__tmp__")  # temp never leaks


def test_fixed_width_rejects_line_breaks_and_nulls_strings(spark, tmp_path):
    """r10 review: a value containing \\n used to split one record over
    two physical lines, silently misaligning every later column; it now
    fails the write loudly. All-blank string fields read back NULL (the
    writer emits blanks for NULL — the format cannot tell NULL from
    '')."""
    import pytest

    from etl_excel_csv_sql_spark.io import fixed_width as fw

    spec = [("id", 4, "bigint"), ("name", 8, "string")]
    bad = spark.createDataFrame([(1, "AB\nCD")], "id long, name string")
    with pytest.raises(Exception, match="line break"):
        fw.write_fixed_width(bad, str(tmp_path / "bad"), spec)

    ok = spark.createDataFrame([(1, None), (2, "x")], "id long, name string")
    path = str(tmp_path / "ok")
    fw.write_fixed_width(ok, path, spec)
    got = {r["id"]: r for r in fw.read_fixed_width(spark, path, spec).collect()}
    assert got[1]["name"] is None
    assert got[2]["name"] == "x"


# a doubled quote and a comma inside one quoted cell: the RFC 4180 line
# write_csv_single produces is 1,"say ""hi"", ok"
_QUOTED_ROWS = [(1, 'say "hi", ok'), (2, "plain")]


def test_read_csv_permissive_reads_what_the_writer_wrote(spark, tmp_path):
    path = str(tmp_path / "quoted.csv")
    csv_io.write_csv_single(
        spark.createDataFrame(_QUOTED_ROWS, "id bigint, s string"), path
    )
    out = csv_io.read_csv_permissive(spark, path, "id bigint, s string")
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 'say "hi", ok', None),
        (2, "plain", None),
    ]


def test_drop_folder_stream_reads_what_the_writer_wrote(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_excel_csv_sql_spark.streaming.file_source import (
        run_available_now_to_memory,
        stream_csv_drop_folder,
    )

    schema = StructType(
        [StructField("id", LongType()), StructField("s", StringType())]
    )
    drop = tmp_path / "drop"
    drop.mkdir()
    csv_io.write_csv_single(
        spark.createDataFrame(_QUOTED_ROWS, schema), str(drop / "quoted.csv")
    )
    run_available_now_to_memory(
        stream_csv_drop_folder(spark, str(drop), schema),
        "drop_folder_quoted",
        str(tmp_path / "ckpt"),
    )
    got = spark.sql("SELECT id, s FROM drop_folder_quoted").collect()
    assert sorted(tuple(r) for r in got) == sorted(_QUOTED_ROWS)
