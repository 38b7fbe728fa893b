"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the seed,
starts one Spark session on ``local[nproc]`` with the engine's defaults,
and drives the workload in a closed loop with one client.

Set-up is the package import, the session start and the warm pass whose
outputs are checked (the checks themselves are not timed). Timed passes
then run until their wall times add up to ``--seconds``, and at least one;
at the measured sizes one pass takes longer than ``run_seconds``, so every
run times the same single pass. A second pass per run did not narrow the
spread between runs, which follows the host's CPU steal, and would push
the benchmark's runs past their time budget.

With ``--trace 0`` the result's metrics are the end-to-end ones: set-up time,
the median pass wall time and the peak resident memory of the driver's
Python process over the timed passes (the high-water mark is
reset after input generation and the output checks, so it is the program's
driver memory, not the benchmark's). The JVM's peak resident
memory is recorded but not a metric: under the engine's 12 GB maximum heap
it follows the collector's lazy heap growth and varied by half between
identical runs. With ``--trace 1`` untraced and traced passes run in U T T U
order (at least four); the metrics are the per-layer ones, as medians over
the traced passes, plus the tracing overhead. Earlier stdout lines hold a
provenance record and, when traced, a self-time table per layer; the last
line is the JSON result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_lifecycle", "text_dedup")

#: Executor CPU per pass is a per-layer metric (``spark.cpu_s``), not an
#: end-to-end one: over ten seeds its quartile spread (18%) was wider than
#: that of pass wall time (9-11%), too wide to carry a regression bound.
END_TO_END = {"setup_s": "s", "pass_s": "s", "driver_peak_rss_mb": "MB"}


def _per_layer_units() -> dict[str, str]:
    from workloads import DEDUP_QUERIES, JOIN_COUNTED

    units = {"session.start_s": "s"}
    for layer in ("io.xlsx", "io.excel", "io.csv_io", "io.jdbc", "functions.scalars",
                  "runner.pipeline", "runner.watermark", "runner.folder_queue",
                  "runner.copyplan", "operators.invoice", "plans.registry", "pass"):
        units[f"{layer}.self_s"] = "s"
    units |= {
        "io.xlsx.read_rows_s": "s",
        "io.excel.read_sheet_s": "s",
        "io.excel.rows": "count",
        "io.csv_io.write_single_s": "s",
        "io.csv_io.bytes_written": "bytes",
        "io.jdbc.full_refresh_s": "s",
        "io.jdbc.rows_written": "count",
        "io.jdbc.rows_quarantined": "count",
        "io.jdbc.rows_per_s": "1/s",
        "functions.scalars.cpu_s": "s",
        "runner.pipeline.export_s": "s",
        "runner.pipeline.import_s": "s",
        "runner.pipeline.invoice_s": "s",
        "runner.pipeline.refresh_s": "s",
        "runner.watermark.s": "s",
        "runner.folder_queue.archive_s": "s",
        "runner.copyplan.execute_s": "s",
        "runner.copyplan.copied": "count",
        "runner.copyplan.missing": "count",
        "runner.copyplan.copied_frac": "ratio",
    }
    for q in DEDUP_QUERIES:
        units[f"{q}.wall_s"] = "s"
        units[f"{q}.cpu_s"] = "s"
    for q in JOIN_COUNTED:
        units |= {f"{q}.join_rows": "count", f"{q}.result_rows": "count",
                  f"{q}.result_per_join_row": "ratio"}
    units |= {
        "spark.cpu_s": "s", "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.core_util": "ratio", "spark.input_bytes": "bytes", "spark.input_rows": "count",
        "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_fetch_wait_s": "s", "spark.executor_run_s": "s",
        "spark.jvm_gc_s": "s", "spark.spill_bytes": "bytes",
        "tracing.overhead_s": "s", "tracing.overhead_frac": "ratio",
        "ops_failed_frac": "ratio",
    }
    return units


# ---------------------------------------------------------------------------
# Provenance
# ---------------------------------------------------------------------------


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs since boot."""
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_frac(since: tuple[int, int]) -> float:
    steal, total = cpu_counters()
    return (steal - since[0]) / max(1, total - since[1])


def _source_tree_hash() -> str:
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "etl_excel_csv_sql_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            with open(os.path.join(dirpath, name), "rb") as fh:
                digest.update(name.encode() + fh.read())
    return "tree:" + digest.hexdigest()[:16]


def _source_sha() -> str:
    """HEAD's sha for a clean git checkout; with uncommitted changes, HEAD's
    sha plus a hash of the package sources, so records of different code
    never share provenance; outside git, the source hash alone."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        def git(*args):
            got = subprocess.run(["git", *args], cwd=ROOT, capture_output=True,
                                 text=True, check=False)
            return got.stdout.strip() if got.returncode == 0 else None

        head = git("rev-parse", "HEAD")
        if head:
            dirty = git("status", "--porcelain", "--untracked-files=no")
            return f"{head}-dirty:{_source_tree_hash()}" if dirty else head
    return _source_tree_hash()


def host_sample(cores: int) -> dict:
    """load1 and the CPU steal share over a quarter second; a host already
    half busy, or losing CPU to other guests, is flagged."""
    load1 = os.getloadavg()[0]
    before = cpu_counters()
    time.sleep(0.25)
    steal = steal_frac(before)
    return {"load1": load1, "steal_frac": round(steal, 4),
            "busy": load1 > 0.5 * cores or steal > 0.05}


# ---------------------------------------------------------------------------
# Session lifetime
# ---------------------------------------------------------------------------


def start_spark(work: str, cores: int):
    """The engine's own session factory on local[cores]; only scratch
    locations (kept inside the work directory) and the console progress bar
    are configured."""
    from etl_excel_csv_sql_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}/derby-home "
        f"-Dderby.stream.error.file={work}/derby.log -XX:-UsePerfData"
    )
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        conf={"spark.driver.extraJavaOptions": java_opts,
              "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_peak_rss() -> None:
    """Restart this process's resident high-water mark (VmHWM) from its
    current resident size."""
    gc.collect()
    with open("/proc/self/clear_refs", "w", encoding="ascii") as fh:
        fh.write("5")


def stop_spark(spark) -> dict:
    """Stop the session and its JVM and wait for both; returns memory
    figures in MB taken just before."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    mem = {
        "py_peak_rss_mb": _hwm_mb("self"),
        "jvm_peak_rss_mb": _hwm_mb(proc.pid) if proc is not None else 0.0,
    }
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    return mem


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def _add(into: dict, more: dict) -> None:
    for k, v in more.items():
        into[k] = into.get(k, 0) + v


def layer_metrics(spans, cores: int, extra: dict) -> dict:
    """Per-layer metrics of one traced pass (see ``_per_layer_units``)."""
    from spans import self_times

    root = next(s for s in spans if s.layer == "pass")
    st = self_times(spans)

    def wall(*names):
        return sum(s.wall for s in spans if s.name in names)

    def count(name, key):
        return sum(s.counts.get(key, 0) for s in spans if s.name == name)

    m: dict[str, float] = {}
    for s in spans:
        key = f"{s.layer}.self_s"
        m[key] = m.get(key, 0.0) + st[s.sid]
    engine: dict[str, float] = {}
    for s in spans:
        if s.layer == "plans.registry":
            m[f"{s.name}.wall_s"] = s.wall
            m[f"{s.name}.cpu_s"] = s.spark.get("cpu_s", 0.0)
            if "join_rows" in s.counts:
                m[f"{s.name}.join_rows"] = s.counts["join_rows"]
        if s.layer == "functions.scalars":
            m["functions.scalars.cpu_s"] = s.spark.get("cpu_s", 0.0)
        else:
            _add(engine, s.spark)
    refreshes = [s.end for s in spans if s.name == "full_refresh"]
    copied, missing = count("execute_copy_plan", "copied"), count("execute_copy_plan", "missing")
    plan_rows = count("execute_copy_plan", "found") + missing
    jdbc_rows = extra.get("rows_written", 0) + extra.get("rows_quarantined", 0)
    m |= {
        "io.xlsx.read_rows_s": wall("read_rows"),
        "io.excel.read_sheet_s": wall("read_excel_sheet"),
        "io.excel.rows": count("read_rows", "rows"),
        "io.csv_io.write_single_s": wall("write_csv_single"),
        "io.csv_io.bytes_written": count("write_csv_single", "bytes"),
        "io.jdbc.full_refresh_s": wall("full_refresh"),
        "io.jdbc.rows_written": extra.get("rows_written", 0),
        "io.jdbc.rows_quarantined": extra.get("rows_quarantined", 0),
        "io.jdbc.rows_per_s": jdbc_rows / wall("full_refresh") if refreshes else 0.0,
        "runner.pipeline.export_s": wall("export"),
        "runner.pipeline.import_s": wall("import"),
        "runner.pipeline.invoice_s": wall("invoice"),
        "runner.pipeline.refresh_s": max(refreshes) - root.start if refreshes else 0.0,
        "runner.watermark.s": wall("should_process", "commit"),
        "runner.folder_queue.archive_s": wall("archive"),
        "runner.copyplan.execute_s": wall("execute_copy_plan"),
        "runner.copyplan.copied": copied,
        "runner.copyplan.missing": missing,
        "runner.copyplan.copied_frac": copied / plan_rows if plan_rows else 0.0,
    }
    for key, value in engine.items():
        m[f"spark.{key}"] = value
    m["spark.core_util"] = engine.get("executor_run_s", 0.0) / (root.wall * cores)
    return m


def median_of(dicts: list[dict], names) -> dict:
    return {n: statistics.median([d.get(n, 0.0) for d in dicts]) if dicts else 0.0
            for n in names}


# ---------------------------------------------------------------------------
# Main loop
# ---------------------------------------------------------------------------


def run(args, work: str) -> tuple[dict, dict]:
    from sparkstats import SparkStats
    from spans import Tracer

    import workloads

    t_import = time.perf_counter() - T_START
    cores = len(os.sched_getaffinity(0))
    record: dict = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "sha": _source_sha(), "nproc": os.cpu_count(), "cores_used": cores,
        "host_start": host_sample(cores),
    }
    counters_start = cpu_counters()
    wl = workloads.make(args.workload)
    t = time.perf_counter()
    record["inputs"] = wl.prepare(work, args.seed)
    record["gen_s"] = time.perf_counter() - t

    ops = workloads.Ops()
    t = time.perf_counter()
    spark = start_spark(work, cores)
    session_s = time.perf_counter() - t
    record["spark_version"] = spark.version
    try:
        t = time.perf_counter()
        wl.warm(spark, ops)
        warm_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.check(spark, ops)
        check_s = time.perf_counter() - t
        reset_peak_rss()
        setup_s = t_import + session_s + warm_s
        record |= {"import_s": t_import, "session_s": session_s, "warm_s": warm_s,
                   "check_s": check_s}

        sc = spark.sparkContext
        stats = SparkStats(spark)
        tracer = Tracer(spark)
        passes: list[dict] = []
        i = 0
        while True:
            # traced passes in U T T U order, so a warm-up trend cancels
            # out of the traced-minus-untraced overhead
            traced = bool(args.trace) and i % 4 in (1, 2)
            wl.reset()
            if traced:
                tracer.pass_id = i
                wl.install_spans(tracer)
                try:
                    with tracer.span("pass", "pass") as root:
                        result = wl.run_pass(spark, ops, tracer)
                finally:
                    tracer.uninstall()
                wall = root.wall
                wl.probe(spark, tracer)
            else:
                group = f"pass-{i}"
                sc.setJobGroup(group, group)
                t = time.perf_counter()
                result = wl.run_pass(spark, ops)
                wall = time.perf_counter() - t
                sc.setLocalProperty("spark.jobGroup.id", None)
            wl.check_pass(result, ops)
            entry = {"wall_s": wall, "traced": traced}
            if traced:
                spans = tracer.pass_spans(i)
                per_group, job_ids = stats.groups({s.group for s in spans})
                for s in spans:
                    s.spark = per_group[s.group]
                    if s.name in workloads.JOIN_COUNTED:
                        s.counts["join_rows"] = stats.join_rows(job_ids[s.group])
                entry["layers"] = layer_metrics(spans, cores, wl.sink_counts(spark))
            else:
                entry["spark"] = stats.groups({group})[0][group]
            passes.append(entry)
            i += 1
            measured = sum(p["wall_s"] for p in passes)
            if measured >= args.seconds and i >= (4 if args.trace else 1):
                break
    finally:
        t = time.perf_counter()
        record["memory"] = stop_spark(spark)
        record["stop_s"] = time.perf_counter() - t

    record["host_end"] = host_sample(cores)
    record["steal_frac_run"] = round(steal_frac(counters_start), 4)
    record["passes"] = [{k: v for k, v in p.items() if k != "layers"} for p in passes]
    plain = [p for p in passes if not p["traced"]]
    pass_s = statistics.median(p["wall_s"] for p in plain)
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "driver_peak_rss_mb": record["memory"]["py_peak_rss_mb"],
        }
        units = END_TO_END
    else:
        units = _per_layer_units()
        traced = [p["layers"] for p in passes if p["traced"]]
        for q in workloads.JOIN_COUNTED:
            seen = {p.get(f"{q}.join_rows") for p in traced}
            if len(seen) > 1:
                ops.fail(f"{q}.join_rows", f"differs between passes: {sorted(seen)}")
        metrics = median_of(traced, units)
        record["spans"] = [
            {"name": s.name, "layer": s.layer, "pass": s.pass_id, "id": s.sid,
             "parent": s.parent, "start_s": round(s.start - T_START, 4),
             "end_s": round(s.end - T_START, 4), "counts": s.counts,
             "cpu_s": round(s.spark.get("cpu_s", 0.0), 4), "jobs": s.spark.get("jobs", 0)}
            for s in tracer.spans
        ]
        results = getattr(wl, "result_rows", {})
        for q in workloads.JOIN_COUNTED:
            if q in results:
                rows = results[q]
                metrics[f"{q}.result_rows"] = rows
                joined = metrics[f"{q}.join_rows"]
                metrics[f"{q}.result_per_join_row"] = rows / joined if joined else 0.0
        traced_s = statistics.median(p["wall_s"] for p in passes if p["traced"])
        metrics["session.start_s"] = session_s
        metrics["tracing.overhead_s"] = traced_s - pass_s
        metrics["tracing.overhead_frac"] = (traced_s - pass_s) / pass_s
        metrics["ops_failed_frac"] = ops.failed / max(1, ops.attempted)
        record["layer_self_s"] = {
            k: round(v, 4) for k, v in metrics.items() if k.endswith(".self_s")
        }
    record["failures"] = ops.failures[:20]
    out = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return out, record


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import etl_excel_csv_sql_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out, record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for failure in record["failures"]:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    print(json.dumps({"record": record}, default=str))
    for layer, value in record.get("layer_self_s", {}).items():
        print(f"self {layer:<28} {value:9.4f} s")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
