"""Scale-growth probe for the dedup/ANN family (VERDICT r5 #5).

The driver ships sf0.001/0.01/0.1 only, so the "does it survive 10x?"
claim needs a larger corpus: this tool derives one deterministically from
sf0.1 (never touching /root/testdata) and measures how the subquadratic
operators actually grow.

Corpus derivation (multiplier m, replicas k = 0..m-1):

- documents: replica k word-shuffles every text with a Fisher-Yates
  permutation seeded by (k, doc_id). A shuffled word-salad is another
  draw from the same vocabulary/length distribution, but shares almost
  no 5-gram shingles with its origin — so replicas are NOT near-dups of
  each other and the near-dup density per document stays comparable to
  sf0.1 (replica 0 is the original). Naive replication would instead
  make every doc a 45-pair dup clique and the growth curve meaningless.
- embeddings: replica k rotates each vector's dimensions by k and flips
  the sign of every (k mod dim)-th element — norm- and geometry-
  preserving, so cluster structure per replica matches the original
  while replicas land in different regions.

Measurement: each probe query runs twice per scale (run1 may include
one-time index builds; run2 is steady state). One JSON line per
(query, scale) is appended to .benchmarks/history.jsonl with metric
"scale_probe", and a summary table prints to stderr. Growth verdict per
query: ratio of scaled run2 wall to base run2 wall, vs the multiplier
(ratio ~ m is linear; ~ m^2 quadratic).

Usage: python tools/scale_probe.py [multiplier=10] [--queries a,b,c]
  --queries restricts the probe set (names from PROBES or any registered
  query) — used for the ×100 runs where only the corpus-size-light
  families are probed (VERDICT r6 #6: probe-side ANN, heavy hitters,
  exact dedup at ×100; minhash at ×30).
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from functools import partial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import append_ledger, log, time_passes, warm  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
PROBES = (
    "minhash_lsh_pairs",
    "simhash_pairs",
    "dedup_components",
    "ann_ivf_persisted_topk",
    # late-r6: corpus-pass operators (documents-only inputs, so the
    # derived corpus exercises them faithfully)
    "doc_unigram_surprisal",
    "corpus_pipeline_e2e",
    "bpe_train_report",
    # batch-6 families. lineitem replicas shift (orderkey, partkey,
    # suppkey) by k·STRIDE: pagerank gets k disconnected graph copies
    # (10x nodes AND edges — the honest scale-up; expect ~linear),
    # heavy-hitters a 10x stream with the same key distribution (MG
    # summary size is constant — expect ~linear scan cost), assoc rules
    # 10x baskets of identical size (pair explosion bounded per basket),
    # containment the shuffled-replica document corpus (near-dup density
    # constant, like jaccard).
    "pagerank_part_supplier",
    "heavy_hitters_phi",
    "assoc_rules_pairs",
    "ngram_containment_pairs",
    # corpus-size-light family for the x100 runs
    "exact_dup_groups",
)
ID_STRIDE = 10_000_000


def build_scaled(mult: int, docs_only: bool = False) -> str:
    """Derive the scaled corpus under .tmp/scale{mult} (build-once).
    ``docs_only`` (the ×100 path) builds just documents.parquet — the
    60M-row lineitem / orders / events replicas would cost minutes and
    gigabytes no ×100 probe reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = os.path.join(REPO, ".tmp", f"scale{mult}")
    done = os.path.join(out_dir, ".done")
    docs_done = os.path.join(out_dir, ".done_docs")
    if os.path.exists(done) or (docs_only and os.path.exists(docs_done)):
        _ensure_scaled_embeddings(out_dir, mult)  # upgrade older corpora
        if not docs_only:
            _ensure_scaled_lineitem(out_dir, mult)
            _ensure_scaled_tpch_dims(out_dir, mult)
        return out_dir
    os.makedirs(out_dir, exist_ok=True)

    if not os.path.exists(os.path.join(out_dir, "documents.parquet")):
        # read only when actually building (r10 review: materializing
        # the whole base corpus to a Python list before the existence
        # check wasted seconds + peak RSS on every rebuild path)
        docs = pq.read_table(os.path.join(BASE_SF, "documents.parquet"))
        d = docs.to_pylist()
        rows = []
        for k in range(mult):
            for r in d:
                words = r["text"].split(" ")
                if k > 0:
                    random.Random((k << 32) ^ r["doc_id"]).shuffle(words)
                text = " ".join(words)
                rows.append(
                    {
                        "doc_id": r["doc_id"] + k * ID_STRIDE,
                        "text": text,
                        "lang": r["lang"],
                        "source": r["source"],
                        "n_chars": len(text),
                    }
                )
        tmp = os.path.join(out_dir, "documents.parquet.tmp")
        pq.write_table(pa.Table.from_pylist(rows, schema=docs.schema), tmp)
        os.replace(tmp, os.path.join(out_dir, "documents.parquet"))
        log(f"scale_probe: wrote {len(rows)} documents (x{mult})")
    if docs_only:
        # embeddings ride along (cheap, enables the semantic-dedup/ANN
        # ×100 probes); only the 60M-row lineitem/dims replicas skip
        _ensure_scaled_embeddings(out_dir, mult)
        with open(docs_done, "w") as fh:
            fh.write("ok")
        return out_dir

    _ensure_scaled_embeddings(out_dir, mult)
    with open(done, "w") as fh:
        fh.write("ok")
    _ensure_scaled_lineitem(out_dir, mult)
    _ensure_scaled_tpch_dims(out_dir, mult)
    return out_dir


def _ensure_scaled_embeddings(out_dir: str, mult: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = os.path.join(out_dir, "embeddings.parquet")
    # version sidecar: v2 = k-keyed sign-pattern transform; a pre-r10
    # corpus (single-flip, cycles at k=dim) must rebuild, not silently
    # feed duplicate-ridden vectors to the probes
    ver = os.path.join(out_dir, ".emb_v2")
    if os.path.exists(target) and os.path.exists(ver):
        return
    emb = pq.read_table(os.path.join(BASE_SF, "embeddings.parquet"))
    e = emb.to_pylist()
    erows = []
    for k in range(mult):
        for r in e:
            vec = r["embedding"]
            if k > 0:
                dim = len(vec)
                rot = k % dim
                vec = vec[rot:] + vec[:rot]
                # k-keyed SIGN PATTERN over the whole vector instead of
                # one flipped element (r10 review): rotate+single-flip
                # cycles with period dim (=64), so at x100 replicas k
                # and k+64 were byte-identical — exact-dup cliques, the
                # precise failure the derivation exists to avoid. Bits
                # of a k-seeded hash give each replica a distinct
                # orthogonal (norm-preserving) transform for any mult.
                sign_bits = random.Random(k).getrandbits(dim)
                vec = [
                    -x if (sign_bits >> i) & 1 else x
                    for i, x in enumerate(vec)
                ]
            erows.append(
                {
                    "vec_id": r["vec_id"] + k * ID_STRIDE,
                    "embedding": vec,
                    "label": r["label"],
                }
            )
    tmp = target + ".tmp"
    pq.write_table(pa.Table.from_pylist(erows, schema=emb.schema), tmp)
    os.replace(tmp, target)
    with open(ver, "w") as fh:
        fh.write("ok")
    log(f"scale_probe: wrote {len(erows)} embeddings (x{mult})")


def build_scaled_token_suffix(mult: int) -> str:
    """Token-SET-safe scaled documents under .tmp/scale{mult}ts (r9):
    the word-shuffle derivation keeps each replica's token SET identical
    to its origin — fine for shingle/MinHash probes, but an exact
    token-set Jaccard join (set_similarity_join_pairs) would see every
    doc as an m-replica clique and its OUTPUT goes quadratic in m — the
    growth curve would measure the answer, not the algorithm. Here
    replica k suffixes every token with ~k instead: per-replica df
    distribution (and thus prefix-posting sizes) matches the base
    corpus exactly, replicas share zero tokens, and true near-dup
    density stays constant — the honest linear-scale-up for AllPairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = os.path.join(REPO, ".tmp", f"scale{mult}ts")
    done = os.path.join(out_dir, ".done")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(BASE_SF, "documents.parquet"))
    d = docs.to_pylist()
    rows = []
    for k in range(mult):
        for r in d:
            text = (
                r["text"]
                if k == 0
                else " ".join(w + f"~{k}" for w in r["text"].split(" "))
            )
            rows.append(
                {
                    "doc_id": r["doc_id"] + k * ID_STRIDE,
                    "text": text,
                    "lang": r["lang"],
                    "source": r["source"],
                    "n_chars": len(text),
                }
            )
    tmp = os.path.join(out_dir, "documents.parquet.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=docs.schema), tmp)
    os.replace(tmp, os.path.join(out_dir, "documents.parquet"))
    log(f"scale_probe: wrote {len(rows)} token-suffixed documents (x{mult})")
    with open(done, "w") as fh:
        fh.write("ok")
    return out_dir


# probes whose semantics require the token-suffixed corpus (see
# build_scaled_token_suffix)
TOKEN_SET_PROBES = frozenset({"set_similarity_join_pairs"})


def _ensure_scaled_lineitem(out_dir: str, mult: int) -> None:
    """10x lineitem (own marker — upgrades pre-existing doc/embedding
    corpora in place): replica k shifts the three join keys by k·STRIDE,
    all measures unchanged. Columnar (pyarrow compute), not pylist —
    600k x mult rows."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    target = os.path.join(out_dir, "lineitem.parquet")
    if os.path.exists(target):
        return
    li = pq.read_table(os.path.join(BASE_SF, "lineitem.parquet"))
    parts = []
    for k in range(mult):
        t = li
        for key in ("l_orderkey", "l_partkey", "l_suppkey"):
            idx = t.schema.get_field_index(key)
            t = t.set_column(
                idx, key, pc.add(t.column(key), k * ID_STRIDE)
            )
        parts.append(t)
    import pyarrow as pa

    # tmp + atomic replace (r10 review): existence IS the completion
    # marker, so a crash mid-write (plausible: mult x 600k rows in
    # memory) left a truncated file every later run trusted
    tmp = target + ".tmp"
    pq.write_table(pa.concat_tables(parts), tmp)
    os.replace(tmp, target)
    log(f"scale_probe: wrote {sum(len(p) for p in parts)} lineitem rows (x{mult})")


def _ensure_scaled_tpch_dims(out_dir: str, mult: int) -> None:
    """Replicas for orders / part / events (own marker — upgrades
    pre-existing corpora in place), for the r7-continuation probes:

    - orders: replica k shifts o_orderkey/o_custkey by k*STRIDE — m×
      customers with the original per-customer order distribution
      (rfm/psi probe: ranks and deciles over m× rows);
    - part: replica k ALSO word-shuffles p_name (seeded per (k, key))
      — identical names would collapse in canonicalize_exact and fake
      the linkage probe; shuffled names keep the name-length/token
      distribution while re-mixing blocks, so candidate density per
      block stays comparable;
    - events: replica k shifts event_id/user_id by k*STRIDE, same
      timestamps — m× users with the original lifetime distribution
      (survival probe), m× daily totals over the same #days (acf)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    marker = os.path.join(out_dir, ".done_tpch_dims")
    if os.path.exists(marker):
        return
    orders = pq.read_table(os.path.join(BASE_SF, "orders.parquet"))
    parts_o = []
    for k in range(mult):
        t = orders
        for key in ("o_orderkey", "o_custkey"):
            idx = t.schema.get_field_index(key)
            t = t.set_column(idx, key, pc.add(t.column(key), k * ID_STRIDE))
        parts_o.append(t)
    pq.write_table(
        pa.concat_tables(parts_o), os.path.join(out_dir, "orders.parquet")
    )
    log(f"scale_probe: wrote {len(orders) * mult} orders rows (x{mult})")

    part = pq.read_table(os.path.join(BASE_SF, "part.parquet")).to_pylist()
    prows = []
    for k in range(mult):
        for r in part:
            name = r["p_name"]
            if k > 0:
                words = name.split(" ")
                random.Random((k << 32) ^ r["p_partkey"]).shuffle(words)
                name = " ".join(words)
            row = dict(r)
            row["p_partkey"] = r["p_partkey"] + k * ID_STRIDE
            row["p_name"] = name
            prows.append(row)
    ptable = pq.read_table(os.path.join(BASE_SF, "part.parquet"))
    pq.write_table(
        pa.Table.from_pylist(prows, schema=ptable.schema),
        os.path.join(out_dir, "part.parquet"),
    )
    log(f"scale_probe: wrote {len(prows)} part rows (x{mult})")

    events = pq.read_table(os.path.join(BASE_SF, "events.parquet"))
    parts_e = []
    for k in range(mult):
        t = events
        for key in ("event_id", "user_id"):
            idx = t.schema.get_field_index(key)
            t = t.set_column(idx, key, pc.add(t.column(key), k * ID_STRIDE))
        parts_e.append(t)
    pq.write_table(
        pa.concat_tables(parts_e), os.path.join(out_dir, "events.parquet")
    )
    log(f"scale_probe: wrote {len(events) * mult} events rows (x{mult})")
    with open(marker, "w") as fh:
        fh.write("ok")


def main() -> int:
    args = sys.argv[1:]
    probes = PROBES
    if "--queries" in args:
        i = args.index("--queries")
        probes = tuple(args[i + 1].split(","))
        del args[i : i + 2]
    docs_only = "--docs-only" in args
    if docs_only:
        args.remove("--docs-only")
    mult = int(args[0]) if args else 10
    from etl_excel_csv_sql_spark.plans.registry import all_queries
    from etl_excel_csv_sql_spark.session import get_spark
    from perfbench.sparkstats import SparkStats

    scaled_dir = build_scaled(mult, docs_only=docs_only)
    ts_dir = (
        build_scaled_token_suffix(mult)
        if any(p in TOKEN_SET_PROBES for p in probes)
        else None
    )
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    stats = SparkStats(spark)
    warm(spark, BASE_SF)

    results = {}
    for sf_label, sf_dir in (("sf0.1", BASE_SF), (f"sf0.1x{mult}", scaled_dir)):
        for name in probes:
            # skip-and-report per query (r10 review): a typo'd --queries
            # name or one failing query used to abort the whole probe
            # AFTER the expensive corpus build, losing the summary for
            # everything already measured
            if name not in queries:
                log(f"scale_probe: UNKNOWN query {name!r} — skipped")
                continue
            qdir = (
                ts_dir
                if (name in TOKEN_SET_PROBES and sf_dir != BASE_SF)
                else sf_dir
            )
            try:
                runs = [r["wall_s"] for r in time_passes(
                    spark, stats, f"{name}@{sf_label}",
                    partial(queries[name], spark, qdir), passes=2)]
            except Exception as exc:
                log(f"scale_probe: {name} @ {sf_label} FAILED: "
                    f"{str(exc)[:200]}")
                continue
            results[(name, sf_label)] = runs
            log(f"scale_probe: {name} @ {sf_label}: run1 {runs[0]}s run2 {runs[1]}s")
            append_ledger(
                {
                    "ts": time.time(),
                    "metric": "scale_probe",
                    "query": name,
                    "scale": sf_label,
                    "multiplier": 1 if sf_dir == BASE_SF else mult,
                    "run1_sec": runs[0],
                    "run2_sec": runs[1],
                }
            )

    summary = {}
    for name in probes:
        if (name, "sf0.1") not in results or (
            name, f"sf0.1x{mult}"
        ) not in results:
            continue  # failed/unknown above — already logged
        base = results[(name, "sf0.1")][1]
        big = results[(name, f"sf0.1x{mult}")][1]
        summary[name] = {
            "base_sec": base,
            "scaled_sec": big,
            "growth": round(big / base, 2) if base > 0 else None,
            "multiplier": mult,
        }
        log(
            f"scale_probe: {name}: {base}s -> {big}s at x{mult} "
            f"(growth x{summary[name]['growth']})"
        )
    print(json.dumps({"metric": "scale_probe_summary", "queries": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
