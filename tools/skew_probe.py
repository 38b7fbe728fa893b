"""Skewed-corpus probe (VERDICT r6 #7).

The ×N scale probe preserves the base corpus's near-uniform key
geometry, so it cannot falsify the documented skew guards. This tool
derives a SAME-ROW-COUNT variant of sf0.1 with production-shaped hot
keys and measures the guard-carrying queries against both corpora:

- documents: 90% of rows get lang="xx" and source="hot-src" (one hot
  shard / one hot sampling domain) — exercises pack_documents_by_lang's
  two-level bucketed prefix scan (a single-shard corpus must still fan
  out) and source_capped_sample's per-source window (cap math on a
  dominant domain).
- events: 90% of rows get user_id=1 (one whale user) — exercises
  cohort_retention_weekly's per-user first-week cohort join.
- part: 90% of rows get their p_name's last token rewritten to
  "hotblock" (one dominant blocking key) — exercises fuzzy_part_pairs'
  max_block guard: the hot block must DROP OUT in-plan instead of going
  |block|² quadratic.
- documents (r9): 90% of rows additionally get one hot TOKEN appended
  to text — exercises set_similarity_join_pairs' AllPairs prefix
  filter: under the rare-first global order the hot token sorts last
  and almost never enters a prefix, so candidates must not explode.
  (Identical-document skew would be output-quadratic for ANY exact
  join — a dominant token is the adversarial-but-answerable shape.)
- embeddings (r9): 90% of rows become one hot direction + small jitter
  (distinct vectors, so the true near-dup output stays linear) — all
  land in one k-means cell, exercising semantic_dedup's
  oversize="split" sub-clustering bound on Σ|cell|².

Pass criterion (the brief's bar): skewed run2 wall within 2× of the
uniform run2 wall at equal row counts. Results append to
.benchmarks/history.jsonl with metric "skew_probe".

Usage: python tools/skew_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import append_ledger, log, time_passes, warm  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
PROBES = (
    "pack_documents_by_lang",
    "source_capped_sample",
    "cohort_retention_weekly",
    "fuzzy_part_pairs",
    # whale-user sessionization: naive per-user window vs the
    # bucket-and-stitch rewrite (events corpus is 90% one user)
    "events_sessionize",
    "events_sessionize_bucketed",
    # r9 (VERDICT r8 #4): the pair-join family under hot keys —
    # AllPairs prefix filter vs a dominant token; SemDeDup
    # oversize="split" vs a one-cell hot-direction embedding corpus
    "set_similarity_join_pairs",
    "semantic_dedup_report",
    # r9 (post hash-key rewrite): the shingle inverted index vs a hot
    # token — the appended token mints up to 3 hot SHINGLES per doc,
    # which must fall to the max_df stop-shingle anti-join instead of
    # going df² in the posting self-join; minhash's banding must keep
    # bucket sizes flat for the same corpus.
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
)
HOT_FRACTION = 10  # 9 of every 10 rows get the hot key


def _mod(pc, arr, k: int):
    """a mod k for non-negative int64 arrays (pyarrow.compute has no mod
    kernel in this build: a - k * (a // k), integer divide truncates)."""
    return pc.subtract(arr, pc.multiply(pc.divide(arr, k), k))


def build_skewed() -> str:
    """Derive the hot-key corpus under .tmp/skew1 (build-once,
    columnar — no Python row loops)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out_dir = os.path.join(REPO, ".tmp", "skew2")  # v2: + text/embeddings
    done = os.path.join(out_dir, ".done")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)

    docs = pq.read_table(os.path.join(BASE_SF, "documents.parquet"))
    hot = pc.not_equal(_mod(pc, docs.column("doc_id"), HOT_FRACTION), 0)
    for col, hot_val in (("lang", "xx"), ("source", "hot-src")):
        idx = docs.schema.get_field_index(col)
        skewed = pc.if_else(
            hot, pa.scalar(hot_val, pa.string()), docs.column(col)
        )
        docs = docs.set_column(idx, col, skewed)
    # one dominant token appended to 90% of texts (r9): the AllPairs
    # prefix filter must keep it out of candidate prefixes
    tidx = docs.schema.get_field_index("text")
    hot_text = pc.binary_join_element_wise(
        docs.column("text").cast(pa.string()),
        pa.array(["hotsharedtoken"] * len(docs)),
        " ",
    )
    docs = docs.set_column(
        tidx, "text", pc.if_else(hot, hot_text, docs.column("text"))
    )
    # recompute n_chars for the appended token (r10 review): the corpus
    # invariant is n_chars == len(text); a stale value would silently
    # break any future size-partitioned probe over 90% of rows
    nidx = docs.schema.get_field_index("n_chars")
    docs = docs.set_column(
        nidx,
        "n_chars",
        pc.utf8_length(docs.column("text")).cast(
            docs.schema.field("n_chars").type
        ),
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    log(f"skew_probe: wrote {len(docs)} documents (90% hot lang/source/token)")

    # embeddings: 90% of vectors → one hot direction + per-row jitter
    # (distinct vectors: the true near-dup output stays LINEAR, so any
    # quadratic wall is the algorithm's, not the answer's)
    import numpy as np

    emb = pq.read_table(os.path.join(BASE_SF, "embeddings.parquet"))
    vecs = emb.column("embedding").to_pylist()
    ids = emb.column("vec_id").to_pylist()
    dim = len(vecs[0])
    rng = np.random.RandomState(42)
    base_dir = np.zeros(dim); base_dir[0] = 1.0
    for i in range(len(vecs)):
        if ids[i] % HOT_FRACTION != 0:
            vecs[i] = (base_dir + rng.uniform(-0.02, 0.02, dim)).astype(
                np.float32
            ).tolist()
    etype = emb.schema.field("embedding").type
    emb = emb.set_column(
        emb.schema.get_field_index("embedding"),
        "embedding",
        pa.array(vecs, type=etype),
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    log(f"skew_probe: wrote {len(emb)} embeddings (90% one hot direction)")

    ev = pq.read_table(os.path.join(BASE_SF, "events.parquet"))
    hot_e = pc.not_equal(_mod(pc, ev.column("event_id"), HOT_FRACTION), 0)
    idx = ev.schema.get_field_index("user_id")
    ev = ev.set_column(
        idx,
        "user_id",
        pc.if_else(hot_e, pa.scalar(1, ev.column("user_id").type), ev.column("user_id")),
    )
    pq.write_table(ev, os.path.join(out_dir, "events.parquet"))
    log(f"skew_probe: wrote {len(ev)} events (90% one whale user)")

    part = pq.read_table(os.path.join(BASE_SF, "part.parquet"))
    hot_p = pc.not_equal(_mod(pc, part.column("p_partkey"), HOT_FRACTION), 0)
    names = part.column("p_name")
    # rewrite the last token: "a b c" -> "a b hotblock"
    stripped = pc.replace_substring_regex(names, r"\s+\S+$", " hotblock")
    idx = part.schema.get_field_index("p_name")
    part = part.set_column(idx, "p_name", pc.if_else(hot_p, stripped, names))
    pq.write_table(part, os.path.join(out_dir, "part.parquet"))
    log(f"skew_probe: wrote {len(part)} parts (90% one hot blocking key)")

    with open(done, "w") as fh:
        fh.write("ok")
    return out_dir


def main() -> int:
    from etl_excel_csv_sql_spark.plans.registry import all_queries
    from etl_excel_csv_sql_spark.session import get_spark
    from perfbench.sparkstats import SparkStats

    skew_dir = build_skewed()
    spark = get_spark("skew_probe")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    stats = SparkStats(spark)
    warm(spark, BASE_SF)

    results: dict[tuple[str, str], list[float]] = {}
    for label, sf_dir in (("uniform", BASE_SF), ("skewed", skew_dir)):
        for name in PROBES:
            runs = [r["wall_s"] for r in time_passes(
                spark, stats, f"{name}@{label}",
                partial(queries[name], spark, sf_dir), passes=2)]
            results[(name, label)] = runs
            log(f"skew_probe: {name} @ {label}: run1 {runs[0]}s run2 {runs[1]}s")

    summary = {}
    for name in PROBES:
        base = results[(name, "uniform")][1]
        skew = results[(name, "skewed")][1]
        ratio = round(skew / base, 2) if base > 0 else None
        summary[name] = {
            "uniform_sec": base,
            "skewed_sec": skew,
            "ratio": ratio,
            "within_2x": (ratio is not None and ratio <= 2.0),
        }
        log(f"skew_probe: {name}: uniform {base}s vs skewed {skew}s "
            f"(x{ratio})")
        append_ledger(
            {
                "ts": time.time(),
                "metric": "skew_probe",
                "query": name,
                **summary[name],
            }
        )
    print(json.dumps({"metric": "skew_probe_summary", "queries": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
