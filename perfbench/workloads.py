"""The benchmark's workloads, each driven by one closed-loop client.

A workload prepares its inputs from the seed; the runner then calls ``warm``
(the first pass, whose outputs ``check`` verifies) and ``run_pass`` for every
later pass, with ``reset`` before each. ``run_pass`` takes an
optional :class:`~spans.Tracer`; with one, each layer call becomes a span.
Every public function is resolved through its module or class at call time,
so the tracer's wrappers take effect without touching the program.
"""

from __future__ import annotations

import csv
import math
import os
import shutil
import traceback
from collections import Counter, defaultdict

import gen

DEDUP_QUERIES = (
    "exact_dup_groups", "doc_token_stats", "doc_quality_score",
    "ngram_jaccard_pairs", "minhash_lsh_pairs", "simhash_pairs",
    "dedup_components_star", "cosine_topk",
)
#: Queries whose executed plan is read for candidate-join row counts.
JOIN_COUNTED = ("ngram_jaccard_pairs", "minhash_lsh_pairs", "simhash_pairs")


class Ops:
    """Attempted and failed operations; a failed output check is a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run(self, label: str, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.fail(label, traceback.format_exc())
            return None

    def fail(self, label: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{label}: {why}")

    def expect(self, label: str, got, want) -> bool:
        if got != want:
            self.fail(label, f"got {got!r}, want {want!r}")
            return False
        return True


# ---------------------------------------------------------------------------
# Query workload (text_dedup)
# ---------------------------------------------------------------------------


def _cell(v):
    import pandas as pd

    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (int, float)) or hasattr(v, "dtype"):
        try:
            return round(float(v), 9)
        except (TypeError, ValueError):
            pass
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def canonical(df) -> list[tuple]:
    """Order-insensitive row multiset: lower-cased sorted columns, numbers
    rounded to 9 decimals, timestamps as ISO text."""
    df = df.rename(columns=str.lower)
    df = df[sorted(df.columns)]
    rows = [tuple(_cell(v) for v in r) for r in df.itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def components(edges) -> list[tuple[int, int]]:
    """(node, smallest node of its connected component) for every node on
    an edge."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(node, find(node)) for node in list(parent)]


def jaccard_pairs(ids, texts, max_df: int = 100, threshold: float = 0.12) -> list[tuple]:
    """(id_a, id_b, jaccard) as the registered ``ngram_jaccard_pairs`` oracle
    defines them: distinct word 3-shingles (the whole text when shorter),
    shingles found in more than ``max_df`` documents dropped, pairs at
    Jaccard >= ``threshold``. Computed here because the oracle's SQL spends
    most of its 20 s on 5000 documents re-splitting each text per shingle."""
    shingles: dict[int, set[str]] = {}
    for doc_id, text in zip(ids, texts):
        w = text.split()
        shingles[int(doc_id)] = (
            {" ".join(w[k:k + 3]) for k in range(len(w) - 2)} if len(w) >= 3 else {" ".join(w)}
        )
    postings: dict[str, list[int]] = defaultdict(list)
    for doc_id, doc_shingles in shingles.items():
        for sh in doc_shingles:
            postings[sh].append(doc_id)
    hot = {sh for sh, docs in postings.items() if len(docs) > max_df}
    sizes = {doc_id: len(doc_shingles - hot) for doc_id, doc_shingles in shingles.items()}
    inter: Counter = Counter()
    for sh, docs in postings.items():
        if sh not in hot:
            docs.sort()
            for k, a in enumerate(docs):
                for b in docs[k + 1:]:
                    inter[(a, b)] += 1
    out = []
    for (a, b), n in inter.items():
        jaccard = n / (sizes[a] + sizes[b] - n)
        if jaccard >= threshold:
            out.append((a, b, jaccard))
    return out


class QueryWorkload:
    """One pass runs each registered query to the noop sink."""

    def __init__(self, queries: tuple[str, ...], n_docs: int, n_emb: int) -> None:
        self.queries = queries
        self.sizes = (n_docs, n_emb)
        self.results: dict = {}
        self.result_rows: dict[str, int] = {}

    def prepare(self, work: str, seed: int) -> dict:
        self.data = os.path.join(work, "data")
        return gen.make_corpus(self.data, seed, *self.sizes)

    def _fns(self):
        from etl_excel_csv_sql_spark.plans import registry

        q = registry.all_queries()
        return {name: q[name] for name in self.queries}

    def warm(self, spark, ops: Ops) -> None:
        """First pass: collect every result for the output check."""
        for name, fn in self._fns().items():
            pdf = ops.run(name, lambda: fn(spark, self.data).toPandas())
            if pdf is not None:
                self.results[name] = pdf

    def check(self, spark, ops: Ops) -> None:
        """Each result against its registered DuckDB oracle on the same
        parquet, except the two whose oracle SQL costs more than the pass
        itself: Jaccard pairs are checked against :func:`jaccard_pairs`, and
        components (a recursive closure in SQL) against a union-find over
        those pairs, which the oracles define as the same fixpoint."""
        import duckdb
        import pandas as pd
        from etl_excel_csv_sql_spark.plans import registry

        oracles = registry.all_oracles()
        con = duckdb.connect()
        wanted: dict = {}
        try:
            for t in gen.TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in sorted(set(self.results) - {"ngram_jaccard_pairs",
                                                    "dedup_components_star"}):
                if name not in oracles:
                    ops.fail(name, "no registered oracle")
                    continue
                wanted[name] = con.execute(oracles[name]).fetchdf()
            docs = con.execute("SELECT doc_id, text FROM documents").fetchdf()
        finally:
            con.close()
        pairs = jaccard_pairs(docs["doc_id"], docs["text"])
        wanted["ngram_jaccard_pairs"] = pd.DataFrame(pairs, columns=["id_a", "id_b", "jaccard"])
        wanted["dedup_components_star"] = pd.DataFrame(
            components((a, b) for a, b, _ in pairs), columns=["id", "component"]
        )
        for name, want in wanted.items():
            got = self.results.get(name)
            if got is not None and canonical(got) != canonical(want):
                ops.fail(name, f"{len(got)} rows differ from the oracle's {len(want)}")
        # only the row counts outlive the check
        self.result_rows = {name: len(df) for name, df in self.results.items()}
        self.results = {}

    def reset(self) -> None:
        pass

    def run_pass(self, spark, ops: Ops, tracer=None) -> dict:
        for name, fn in self._fns().items():
            def action(fn=fn):
                fn(spark, self.data).write.format("noop").mode("overwrite").save()

            if tracer is None:
                ops.run(name, action)
            else:
                with tracer.span(name, "plans.registry"):
                    ops.run(name, action)
        return {}

    def check_pass(self, result: dict, ops: Ops) -> None:
        pass

    def install_spans(self, tracer) -> None:
        """Query spans are opened by ``run_pass`` itself."""

    def probe(self, spark, tracer) -> None:
        pass

    def sink_counts(self, spark) -> dict:
        return {}


# ---------------------------------------------------------------------------
# Lifecycle workload (etl_lifecycle)
# ---------------------------------------------------------------------------

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


class EtlWorkload:
    """One cycle of the reference flow: export the workbook's sheets to the
    drop folder, import each sheet into embedded Derby (sanitize, Excel-serial
    dates, row quarantine, full refresh, archive), then run the invoice
    search against the Derby invoices table and write the Found flags back."""

    SHEETS = {"Invoices": gen.INVOICE_COLUMNS, "Orders": gen.ORDER_COLUMNS}
    DATE_FIELDS = {"Invoices": ["InvoiceDate", "DueDate"], "Orders": ["OrderDate", "ShipDate"]}

    def __init__(self, rows_per_sheet: int) -> None:
        self.rows_per_sheet = rows_per_sheet

    def prepare(self, work: str, seed: int) -> dict:
        self.plan = gen.make_etl_inputs(os.path.join(work, "in"), seed, self.rows_per_sheet)
        self.dirs = {
            k: os.path.join(work, k) for k in ("drop", "Processed", "Error", "found", "state")
        }
        self.url = f"jdbc:derby:{os.path.join(work, 'derby', 'etl')};create=true"
        self.mtime0 = os.stat(self.plan.workbook).st_mtime
        self.cycles = 0
        return {"rows_per_sheet": self.rows_per_sheet, **self.plan.quarantined}

    def _sink(self, table: str, columns=None):
        """Derby stores strings as CLOB unless the columns are pinned to
        VARCHAR, and CLOB cannot be compared in a WHERE clause; but Spark
        binds NULLs as CLOB, which a VARCHAR column rejects. Tables that are
        queried (no NULL cells) are pinned; the reject tables, whose key may
        be NULL, are not."""
        from etl_excel_csv_sql_spark.io import jdbc

        options = {"driver": DERBY_DRIVER}
        if columns:
            options["createTableColumnTypes"] = ", ".join(f"{c} VARCHAR(128)" for c in columns)
        return jdbc.JdbcFullRefreshSink(url=self.url, table=table, options=options)

    def reset(self) -> None:
        """Untimed: a new workbook mtime, empty drop/Processed/Error/found
        folders and an invoice list with every Found flag cleared."""
        self.cycles += 1
        t = self.mtime0 + 10 * self.cycles
        os.utime(self.plan.workbook, (t, t))
        for key in ("drop", "Processed", "Error", "found"):
            shutil.rmtree(self.dirs[key], ignore_errors=True)
        with open(self.plan.invoice_csv, "w", encoding="utf-8") as fh:
            fh.write(self.plan.invoice_csv_text)

    def run_pass(self, spark, ops: Ops, tracer=None) -> dict:
        from etl_excel_csv_sql_spark.io import jdbc
        from etl_excel_csv_sql_spark.runner import pipeline
        from etl_excel_csv_sql_spark.runner.folder_queue import FolderQueue
        from etl_excel_csv_sql_spark.runner.watermark import WatermarkStore

        d = self.dirs
        out: dict = {}
        export = pipeline.ExcelExportJob(
            source_name="book",
            workbook_path=self.plan.workbook,
            sheets=list(self.SHEETS),
            header_row=1,
            csv_out_dir=d["drop"],
            error_dir=d["Error"],
            watermarks=WatermarkStore(d["state"]),
        )
        out["export"] = ops.run("export_excel_to_csv", pipeline.export_excel_to_csv, spark, export)
        queue = FolderQueue(d["drop"], d["Processed"], d["Error"])
        for sheet, columns in self.SHEETS.items():
            job = pipeline.CsvImportJob(
                pk=columns[0],
                fields=None,
                datetime_fields=self.DATE_FIELDS[sheet],
                sink=self._sink(sheet.upper(), columns),
                queue=queue,
                quarantine_sink=self._sink(f"{sheet.upper()}_REJECTS"),
                source_name=sheet,
            )
            out[sheet] = ops.run(
                f"import_csv_to_table:{sheet}", pipeline.import_csv_to_table, spark, job
            )
        source = jdbc.JdbcQuerySource(
            url=self.url,
            query='SELECT "InvoiceNumber" AS "invnum", "SubFolder", "FileName", '
            '"CustomerRef" FROM INVOICES',
            options={"driver": DERBY_DRIVER},
        )
        search = pipeline.InvoiceSearchJob(
            invoice_csv=self.plan.invoice_csv, src_root=self.plan.docs_root, dst_root=d["found"]
        )
        out["invoice"] = ops.run(
            "invoice_search",
            lambda: pipeline.invoice_search(spark, search, source.load(spark)),
        )
        return out

    def check_pass(self, result: dict, ops: Ops) -> None:
        """Untimed: every entry point's return value matches the plan."""
        p = self.plan
        if result.get("export") is not None:
            ops.expect("export", result["export"],
                       {"skipped": False, "exported": list(self.SHEETS), "diverted": []})
        for sheet in self.SHEETS:
            got = result.get(sheet)
            if got is not None:
                ops.expect(f"import {sheet}", [o.value for o in got.values()], ["processed"])
        inv = result.get("invoice")
        if inv is not None:
            ops.expect("invoice copies", inv["copies"], {
                "found": p.copies_expected, "copied": p.copies_expected,
                "missing": p.copies_missing, "skipped": 0,
            })
            ops.expect("invoice report", (inv["expected"], inv["found"], inv["missing"]),
                       (p.invoices_listed, p.invoices_found,
                        p.invoices_listed - p.invoices_found))

    def warm(self, spark, ops: Ops) -> None:
        self.reset()
        self.warm_result = self.run_pass(spark, ops)

    def check(self, spark, ops: Ops) -> None:
        """Untimed, after the warm cycle: Derby contents, sanitized and
        converted cells, copied files and the Found write-back."""
        p = self.plan
        self.check_pass(self.warm_result, ops)
        for table, want in p.good_rows.items():
            ops.expect(f"{table} rows", self.table_count(spark, table), want)
            ops.expect(f"{table} quarantined",
                       self.table_count(spark, f"{table}_REJECTS"), p.quarantined[table])
        # one query per table for all of its spot checks
        spots: dict = defaultdict(list)
        for table, key_col, key, col, want in p.spot_checks:
            spots[(table, key_col)].append((key, col, want))
        for (table, key_col), checks in spots.items():
            cols = ", ".join(f'"{c}"' for c in sorted({c for _, c, _ in checks}))
            keys = ", ".join(sorted({f"'{k}'" for k, _, _ in checks}))
            got = self._read(
                spark, f'SELECT "{key_col}", {cols} FROM {table} WHERE "{key_col}" IN ({keys})'
            )
            stored = {r[key_col]: r for r in got}
            for key, col, want in checks:
                row = stored.get(key)
                ops.expect(f"{table}.{col}[{key}]", row[col] if row else None, want)
        ops.expect("copied files", len(os.listdir(self.dirs["found"])), p.copies_expected)
        with open(p.invoice_csv, encoding="utf-8", newline="") as fh:
            flags = {r["InvoiceNumber"]: r["Found"] for r in csv.DictReader(fh)}
        want_flags = {
            k: ("Yes" if k in p.found_numbers else "")
            for k in (line.split(",")[0] for line in p.invoice_csv_text.splitlines()[1:])
        }
        ops.expect("Found write-back", flags, want_flags)

    def install_spans(self, tracer) -> None:
        """Wrap each lifecycle layer's public function where its caller
        looks it up."""
        from etl_excel_csv_sql_spark.io import csv_io, excel, jdbc, xlsx
        from etl_excel_csv_sql_spark.runner import pipeline
        from etl_excel_csv_sql_spark.runner.folder_queue import FolderQueue
        from etl_excel_csv_sql_spark.runner.watermark import WatermarkStore

        def rows(sp, args, result):
            sp.counts["rows"] = max(0, len(result) - 1)

        def csv_bytes(sp, args, result):
            sp.counts["bytes"] = os.path.getsize(args[1])

        def copies(sp, args, result):
            sp.counts.update(result)

        tracer.wrap(xlsx, "read_rows", "read_rows", "io.xlsx", rows)
        tracer.wrap(excel, "read_excel_sheet", "read_excel_sheet", "io.excel")
        tracer.wrap(csv_io, "write_csv_single", "write_csv_single", "io.csv_io", csv_bytes)
        tracer.wrap(jdbc.JdbcFullRefreshSink, "full_refresh", "full_refresh", "io.jdbc")
        tracer.wrap(jdbc.JdbcQuerySource, "load", "query_load", "io.jdbc")
        tracer.wrap(FolderQueue, "archive", "archive", "runner.folder_queue")
        tracer.wrap(WatermarkStore, "should_process", "should_process", "runner.watermark")
        tracer.wrap(WatermarkStore, "commit", "commit", "runner.watermark")
        tracer.wrap(pipeline, "execute_copy_plan", "execute_copy_plan", "runner.copyplan",
                    copies)
        tracer.wrap(pipeline, "export_excel_to_csv", "export", "runner.pipeline")
        tracer.wrap(pipeline, "import_csv_to_table", "import", "runner.pipeline")
        tracer.wrap(pipeline, "invoice_search", "invoice", "operators.invoice")

    def probe(self, spark, tracer) -> None:
        """Traced runs only, outside the cycle: apply the import's cell
        functions to the archived export CSVs and write to the noop sink, so
        their executor CPU can be read on its own."""
        from pyspark.sql import functions as F

        from etl_excel_csv_sql_spark.functions import scalars
        from etl_excel_csv_sql_spark.io import csv_io

        with tracer.span("probe", "functions.scalars"):
            for name in sorted(os.listdir(self.dirs["Processed"])):
                sheet = os.path.splitext(name)[0].split(" ")[-1]
                path = os.path.join(self.dirs["Processed"], name)
                df = csv_io.read_csv_all_string(spark, path)
                cols = [scalars.sanitize_sql_string(F.col(c)).alias(c) for c in df.columns]
                cols += [
                    scalars.excel_serial_to_timestamp(F.col(c)).alias(f"{c}_ts")
                    for c in self.DATE_FIELDS.get(sheet, [])
                ]
                df.select(*cols).write.format("noop").mode("overwrite").save()

    def sink_counts(self, spark) -> dict:
        """Rows the last cycle left in the Derby tables and reject tables."""
        return {
            "rows_written": sum(self.table_count(spark, t) for t in self.plan.good_rows),
            "rows_quarantined": sum(
                self.table_count(spark, f"{t}_REJECTS") for t in self.plan.good_rows
            ),
        }

    def _read(self, spark, query: str):
        return (
            spark.read.format("jdbc")
            .options(url=self.url, query=query, driver=DERBY_DRIVER)
            .load()
            .collect()
        )

    def table_count(self, spark, table: str) -> int:
        return int(self._read(spark, f"SELECT COUNT(*) AS N FROM {table}")[0].N)


def make(name: str):
    """Workload by name, at the sizes the benchmark measures: half the
    documents and a quarter of the rows of a 5000-document corpus and a
    20000-row workbook, so that all runs of the benchmark fit its time
    budget; a run is mostly session start and the cold first pass, which
    barely shrink with the inputs. At these sizes
    the export, import and invoice legs keep their shares of a 20000-row
    cycle, and the Jaccard candidate join still outnumbers its result
    pairs by three orders of magnitude."""
    if name == "text_dedup":
        return QueryWorkload(DEDUP_QUERIES, n_docs=2500, n_emb=2000)
    if name == "etl_lifecycle":
        return EtlWorkload(rows_per_sheet=5000)
    raise SystemExit(f"unknown workload {name!r}")

