"""Corpus text-analysis operators over the documents table.

Per-document stats are a single narrow map (no shuffle); corpus rollups
aggregate with map-side partials. Everything is built-in expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_excel_csv_sql_spark.functions.text import (
    quality_score,
    token_count,
    tokens,
)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_df_ratio: float = 1.0,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    Plan: explode lowercase tokens → per-(doc, term) counts (one shuffle on
    (doc, term)) → document frequencies (one shuffle on term; hot terms are
    bounded because DF rows are one per distinct term) → idf join → bounded
    grouped top-k for the per-doc ranking (no Window over unbounded
    groups). ``max_df_ratio`` drops ubiquitous terms (df > ratio·N) before
    scoring — the stop-term analog of the dedup stop-shingle cutoff.

    idf = ln(N / df); score = tf · idf, rounded to 6 to absorb FP noise
    across engines. Ties break by term ascending. Output:
    (doc, term, tf, df, score, rank).
    """
    from etl_excel_csv_sql_spark.operators.relational import (
        grouped_bounded_topk,
        spread_for_compute,
    )

    # N sizes the idf constant IN-PLAN: a single-row count aggregate is
    # cross-broadcast into the scoring projection (the same shape as
    # corpus_mixture_weights' grand total). The previous df.count() was a
    # separate driver action — one whole extra corpus scan spent computing
    # a scalar before the real job even started.
    totals = F.broadcast(df.agg(F.count("*").alias("__n_docs")))
    terms = spread_for_compute(df).select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(text_col)).alias("term_raw"),
    ).select("doc", F.lower(F.col("term_raw")).alias("term"))
    tf = terms.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df")).crossJoin(totals)
    if max_df_ratio < 1.0:
        # floor() == int() truncation for the non-negative product
        dfreq = dfreq.filter(
            F.col("df")
            <= F.floor(F.lit(max_df_ratio) * F.col("__n_docs")).cast("long")
        )
    scored = tf.join(dfreq, "term").select(
        "doc",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf")
            * F.log(F.col("__n_docs").cast("double") / F.col("df")),
            6,
        ).alias("score"),
    )
    key = F.struct(
        (-F.col("score")).alias("neg_score"),
        F.col("term").alias("term"),
        F.col("tf").alias("tf"),
        F.col("df").alias("df"),
        F.col("score").alias("score"),
    )
    top = grouped_bounded_topk(scored, ["doc"], key, k)
    return top.select(
        "doc",
        F.col("item.term").alias("term"),
        F.col("item.tf").alias("tf"),
        F.col("item.df").alias("df"),
        F.col("item.score").alias("score"),
        "rank",
    )


def lexical_diversity(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document lexical-diversity quality signals: type-token ratio
    and unigram Shannon entropy — the standard template/boilerplate
    filters (a low-entropy doc is a repetitive doc, whatever its length).

    Plan: explode lowercase tokens (same tokenization contract as
    tfidf_top_terms) → per-(doc, term) counts (one shuffle on the narrow
    (doc, term) pair) → per-doc aggregate (one shuffle on doc). Entropy
    comes from the one-pass identity H = log2(N) − (Σ c·log2 c)/N over
    the term counts, so no per-doc normalization join is needed. Docs
    with zero tokens drop out (no term rows), mirroring the oracle's
    unnest. Rounded to 6 on both engines to absorb FP summation-order
    noise. Output: (doc, n_tokens, n_types, ttr, unigram_entropy).
    """
    from etl_excel_csv_sql_spark.operators.relational import (
        spread_for_compute,
    )

    terms = (
        spread_for_compute(df)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(tokens(text_col)).alias("term_raw"),
        )
        .select("doc", F.lower(F.col("term_raw")).alias("term"))
    )
    tf = terms.groupBy("doc", "term").agg(F.count("*").alias("c"))
    n = F.sum("c").cast("double")
    return tf.groupBy("doc").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.round(F.count("*") / n, 6).alias("ttr"),
        F.round(
            F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n, 6
        ).alias("unigram_entropy"),
    )


def repetition_signals(df: DataFrame) -> DataFrame:
    """Repetition/shape quality signals in the style of the public corpus-
    filtering rules (Gopher / RedPajama / Dolma heuristics):

    - dup_line_fraction: 1 - distinct_lines/lines (boilerplate, chat logs)
    - top_token_fraction: share of the most frequent token (keyword spam)
    - mean_word_len: mean token length (gibberish skews high or low)
    - digit_fraction: digit share of non-space chars (tables, logs)

    All pure array expressions — one narrow map, no shuffle, no UDF.
    Thresholding is the caller's policy (the published rules differ per
    corpus); this operator just measures.
    """
    t = F.col("text")
    lines = F.split(t, r"\n")
    n_lines = F.size(lines)
    toks = tokens("text")
    n_toks = F.size(toks)
    # top-token count: sort then longest-equal-run in ONE pass (the naive
    # per-distinct-token filter is O(distinct×tokens) — quadratic in doc
    # length, a trap at book-length documents)
    sorted_toks = F.array_sort(toks)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def _run(acc, x):
        run = F.when(x == acc.getField("prev"), acc.getField("run") + 1).otherwise(
            F.lit(1)
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"),
        )

    top_count = F.aggregate(sorted_toks, acc0, _run).getField("best")
    non_space = F.length(F.regexp_replace(t, r"\s", ""))
    digits = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    return df.select(
        F.col("doc_id"),
        F.round(
            F.when(
                n_lines > 0,
                1 - F.size(F.array_distinct(lines)) / n_lines,
            ).otherwise(0.0),
            6,
        ).alias("dup_line_fraction"),
        F.round(
            F.when(n_toks > 0, top_count / n_toks).otherwise(0.0), 6
        ).alias("top_token_fraction"),
        F.round(
            F.when(
                n_toks > 0,
                F.aggregate(
                    toks, F.lit(0), lambda acc, x: acc + F.length(x)
                ) / n_toks,
            ).otherwise(0.0),
            6,
        ).alias("mean_word_len"),
        F.round(
            F.when(non_space > 0, digits / non_space).otherwise(0.0), 6
        ).alias("digit_fraction"),
    )


def contamination_check(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training docs whose normalized-content fingerprint appears in the
    eval set — the train/eval contamination scan every benchmark-honest
    pipeline needs. Both sides reduce to (id, md5) before the join, so
    only 16-byte hashes shuffle and the (small) eval fingerprint set
    broadcasts. Output: (train_id, fingerprint, n_eval_matches)."""
    from etl_excel_csv_sql_spark.functions.text import normalize_text

    t = train.select(
        F.col(id_col).alias("train_id"),
        F.md5(normalize_text(text_col)).alias("fingerprint"),
    )
    e = evalset.select(
        F.md5(normalize_text(text_col)).alias("fingerprint")
    ).groupBy("fingerprint").agg(F.count("*").alias("n_eval_matches"))
    return t.join(F.broadcast(e), "fingerprint").select(
        "train_id", "fingerprint", "n_eval_matches"
    )


def pack_documents(
    df: DataFrame,
    token_budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-pretraining layout):
    documents are concatenated into one token stream per shard and the
    stream is chunked every ``token_budget`` tokens; a document's bin is
    the chunk its first token falls in, ``bin_offset`` its position
    inside that chunk.

    The concatenation order within a shard is (hash_bucket(id), id): a
    deterministic pseudo-random interleave (which pretraining packing
    wants anyway — adjacent ids are usually correlated). That order is
    what makes the prefix sum DISTRIBUTED, as a two-level scan:

      1. window prefix-sum within each (shard, bucket) — 256
         buckets per shard, so a single-shard (or single-language) corpus
         still fans out across the cluster instead of sorting the whole
         shard in one task;
      2. per-bucket token totals, cumulated across buckets with one tiny
         window over 256 rows per shard, joined back
         (broadcast — the bucket-total frame is |shards|·256 rows) and
         added into the bin arithmetic.

    The bucket is the first 2 hex chars of
    md5('pack-v1' || id) — engine-portable (any SQL oracle recomputes it)
    and lexicographically ordered, so the packing order is reproducible
    anywhere. ``shard_col`` (e.g. language) keys independent streams; it
    may be ANY cardinality now, including 1. Output: (shard?, id,
    bucket, n_tokens, bin_id, bin_offset).
    """
    from pyspark.sql import Window

    shard_keys = ["shard"] if shard_col else []
    bucket = F.substring(
        F.md5(F.concat(F.lit("pack-v1"), F.col("id").cast("string"))),
        1,
        2,
    )
    sized = df.select(
        *([F.col(shard_col).alias("shard")] if shard_col else []),
        F.col(id_col).alias("id"),
        token_count(text_col).alias("n_tokens"),
    ).withColumn("bucket", bucket)

    # level 1: prefix sum local to (shard, bucket), ordered by id
    w_local = (
        Window.partitionBy(*shard_keys, "bucket")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_before = F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    leveled = sized.withColumn("local_before", local_before)

    # level 2: cumulative bucket totals across buckets (tiny frame:
    # one row per (shard, bucket))
    w_bucket = (
        Window.partitionBy(*shard_keys)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_offsets = (
        sized.groupBy(*shard_keys, "bucket")
        .agg(F.sum("n_tokens").alias("bucket_total"))
        .withColumn(
            "bucket_before",
            F.coalesce(F.sum("bucket_total").over(w_bucket), F.lit(0)),
        )
        .drop("bucket_total")
    )
    joined = leveled.join(
        F.broadcast(bucket_offsets), [*shard_keys, "bucket"]
    )
    cum_before = F.col("bucket_before") + F.col("local_before")
    return joined.select(
        *shard_keys,
        "id",
        "bucket",
        "n_tokens",
        F.floor(cum_before / token_budget).cast("bigint").alias("bin_id"),
        (cum_before % token_budget).cast("bigint").alias("bin_offset"),
    )


def corpus_rollup(df: DataFrame) -> DataFrame:
    """Corpus statistics per group: doc count, token totals/means, char
    totals. Map-side partial aggregation → the shuffle carries one partial
    row per (partition, group)."""
    tc = token_count("text")
    return (
        df.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(tc).alias("total_tokens"),
            (F.sum(tc) / F.count("*")).alias("avg_tokens"),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document zlib compression ratio: (id, n_bytes, n_compressed,
    compression_ratio = compressed/raw bytes).

    The classic cheap quality/repetition signal (used by Gopher-style
    and FineWeb-style pipeline filters): boilerplate and highly
    repetitive documents compress far below natural text (~0.3-0.4 for
    English prose; <0.1 screams template spam), while already-compressed
    or random payloads sit near 1.0. Complements repetition_signals
    (which counts exact n-gram repeats) with a distribution-free
    whole-document measure.

    zlib lives Python-side, so this is one of the engine's few
    non-column-expression kernels: an Arrow-batched ``mapInPandas``
    narrow map — no shuffle, bounded batch memory, bytes never
    round-trip as Python row objects. UTF-8 byte length (not char
    count) is the denominator; empty/null text → null ratio.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    # id keeps the INPUT's type — a hardcoded cast("long") silently
    # nulled every string/UUID document id (code-review r9 catch)
    id_type = df.schema[id_col].dataType
    src = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t")
    )
    out_schema = StructType(
        [
            StructField("id", id_type),
            StructField("n_bytes", LongType()),
            StructField("n_compressed", LongType()),
            StructField("compression_ratio", DoubleType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in it:
            n_bytes: list[int | None] = []
            n_comp: list[int | None] = []
            ratio: list[float | None] = []
            for text in pdf["t"]:
                if text is None:
                    n_bytes.append(None), n_comp.append(None), ratio.append(None)
                    continue
                raw = text.encode("utf-8")
                comp = zlib.compress(raw, 6)
                n_bytes.append(len(raw))
                n_comp.append(len(comp))
                ratio.append(
                    round(len(comp) / len(raw), 6) if raw else None
                )
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "n_bytes": pd.array(n_bytes, dtype="Int64"),
                    "n_compressed": pd.array(n_comp, dtype="Int64"),
                    "compression_ratio": pd.array(ratio, dtype="float64"),
                }
            )

    return src.mapInPandas(batches, out_schema)


def quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_fraction: float = 0.6,
) -> DataFrame:
    """Keep the top ``keep_fraction`` of documents by quality score —
    the filter STAGE of a training-data pipeline (doc_quality_score is
    the measurement; this acts on it).

    The threshold is the exact (1-keep_fraction) quantile of the quality
    distribution, computed IN-PLAN: one aggregate row broadcast back via
    crossJoin (the in-plan-scalar pattern — no driver action, no
    second job), then a narrow filter. Exact ``percentile`` (not
    percentile_approx) keeps the cut reproducible across engines and
    partitionings; at 100 TB swap in percentile_approx(…, accuracy)
    consciously — the tradeoff knob is the caller's, not hidden here.
    Output: (id, quality, threshold) for kept rows.
    """
    scored = df.select(
        F.col(id_col).alias("id"),
        F.round(quality_score(text_col), 6).alias("quality"),
    )
    thr = F.broadcast(
        scored.agg(
            F.expr(
                f"percentile(quality, {1.0 - keep_fraction})"
            ).alias("threshold")
        )
    )
    return (
        scored.crossJoin(thr)
        .filter(F.col("quality") >= F.col("threshold"))
        .select("id", "quality", F.round("threshold", 6).alias("threshold"))
    )


def chunk_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-size sliding token windows per document — the chunking step
    of an embedding/RAG or context-window-packing pipeline: one chunk
    per start position 0, stride, 2·stride, … ≤ n_tokens−1, i.e.
    ceil(n_tokens/stride) chunks of at most ``chunk_size`` whitespace
    tokens (overlap = chunk_size − stride per step). Trailing starts
    within the last ``chunk_size`` tokens yield chunks fully CONTAINED
    in an earlier chunk — size a downstream job from this count, not
    from the distinct-content count. An empty/whitespace-only document
    yields one chunk whose single token is the empty string
    (n_tokens=1, chunk_text '') — the split('') artifact, pinned by the
    oracle.

    Output: (id, chunk_id, start_token, n_tokens, chunk_text). chunk_id
    is start_token/stride — stable, dense per doc, independent of
    partitioning.

    Plan: narrow map only — split + sequence + explode + slice run
    per-row inside codegen/generate with NO shuffle; chunking 100 TB of
    text is embarrassingly parallel and this plan keeps it that way.
    Documents chunk independently, so skew only arises from pathological
    single-document length, which the upstream quality filter caps.
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    d = df.select(F.col(id_col), words.alias("__words"))
    # start positions 0, stride, 2·stride … ≤ n-1 (greatest guards the
    # empty-text edge: one empty chunk rather than an invalid sequence)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(F.col("__words")) - 1, F.lit(0)),
        F.lit(stride),
    )
    chunk = F.slice(F.col("__words"), F.col("start_token") + 1, chunk_size)
    return (
        d.select(
            F.col(id_col),
            F.col("__words"),
            F.explode(starts).alias("start_token"),
        )
        .select(
            F.col(id_col),
            (F.col("start_token") / stride).cast("bigint").alias("chunk_id"),
            F.col("start_token").cast("bigint").alias("start_token"),
            F.size(chunk).cast("bigint").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def tfidf_doc_similarity(
    df: DataFrame,
    query_pred,
    k: int = 3,
    max_df_ratio: float = 1.0,
) -> DataFrame:
    """Sparse document-to-document similarity: cosine over TF-IDF term
    vectors via an INVERTED-INDEX join — the lexical complement of the
    dense-embedding ANN path (no model needed; exact on the weighted
    bag-of-words geometry).

    ``query_pred`` (a boolean Column over the input) bounds the left
    side — similarity runs queries-vs-corpus, not all-pairs. For each
    query doc: top-``k`` most similar other docs.

    Plan: tokens explode once; (doc, term) counts and term DFs are the
    same two shuffles tfidf_top_terms pays; the pair scores come from a
    join ON TERM (each term contributes |q-docs with t| × |docs with t|
    products — the inverted-index plan, NOT a doc×doc cross join), and
    the d² blowup on ubiquitous terms is cut by ``max_df_ratio``, the
    stop-term analog of the dedup stop-shingle cutoff (terms in every
    document carry near-zero idf AND dominate join fanout: dropping
    them changes scores negligibly and join cost massively at corpus
    scale). Ranking is rounded-score bounded top-k — cross-engine
    stable because the struct key uses the ROUNDED cosine (ties break
    by neighbor id), and window-free.
    """
    from etl_excel_csv_sql_spark.functions.text import tokens
    from etl_excel_csv_sql_spark.operators.relational import (
        grouped_bounded_topk,
        spread_for_compute,
    )

    totals = F.broadcast(df.agg(F.count("*").alias("__n_docs")))
    base = df.select(
        F.col("doc_id").alias("doc"),
        F.col("text").alias("__text"),
        query_pred.alias("__is_query"),
    )
    terms = spread_for_compute(base).select(
        "doc",
        "__is_query",
        F.explode(tokens("__text")).alias("term_raw"),
    ).select("doc", "__is_query", F.lower(F.col("term_raw")).alias("term"))
    tf = terms.groupBy("doc", "term").agg(
        F.count("*").alias("tf"), F.first("__is_query").alias("__is_query")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df")).crossJoin(totals)
    if max_df_ratio < 1.0:
        dfreq = dfreq.filter(
            F.col("df")
            <= F.floor(F.lit(max_df_ratio) * F.col("__n_docs")).cast("long")
        )
    w = tf.join(dfreq, "term").select(
        "doc",
        "term",
        "__is_query",
        (
            F.col("tf")
            * F.log(F.col("__n_docs").cast("double") / F.col("df"))
        ).alias("w"),
    )
    norms = w.groupBy("doc").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    q = w.filter(F.col("__is_query")).select(
        F.col("doc").alias("query_doc"), "term", F.col("w").alias("wq")
    )
    pairs = (
        q.join(
            w.select(F.col("doc").alias("similar_doc"), "term", "w"),
            "term",
        )
        .filter(F.col("similar_doc") != F.col("query_doc"))
        .groupBy("query_doc", "similar_doc")
        .agg(F.sum(F.col("wq") * F.col("w")).alias("dot"))
        .join(
            norms.select(F.col("doc").alias("query_doc"), F.col("nrm").alias("nq")),
            "query_doc",
        )
        .join(
            norms.select(
                F.col("doc").alias("similar_doc"), F.col("nrm").alias("nd")
            ),
            "similar_doc",
        )
        .select(
            "query_doc",
            "similar_doc",
            F.round(F.col("dot") / (F.col("nq") * F.col("nd")), 6).alias(
                "cosine"
            ),
        )
        # a zero-norm doc (every surviving term has idf 0) makes the
        # division NULL, and null struct fields sort FIRST in the
        # bounded top-k — the meaningless pair would rank #1 and
        # displace real neighbors (code-review r9 catch)
        .filter(F.col("cosine").isNotNull())
    )
    key = F.struct(
        (-F.col("cosine")).alias("neg_cos"),
        F.col("similar_doc").alias("similar_doc"),
        F.col("cosine").alias("cosine"),
    )
    top = grouped_bounded_topk(pairs, ["query_doc"], key, k)
    return top.select(
        "query_doc",
        F.col("item.similar_doc").alias("similar_doc"),
        F.col("item.cosine").alias("cosine"),
        "rank",
    )


def unigram_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-entropy under the corpus's own unigram LM —
    the CCNet/Gopher-style statistical quality signal (a document whose
    tokens are improbable under the corpus distribution is boilerplate,
    noise, or another language; one whose tokens are too probable is
    template spam). No trained model needed: the LM is the corpus itself.

    bits_per_token = -(1/n) Σ_w log2(c_w / N)   over the doc's tokens,
    where c_w is the corpus count of token w and N the corpus token total.

    Plan: tokens explode once; the vocab (term → corpus count) is ONE
    shuffle on term; N rides the same aggregate as an in-plan single-row
    broadcast (no driver action). Scoring joins the exploded tokens back
    to the vocab on term — the vocab side is the distinct-term frame, tiny
    relative to the corpus (Zipf), so Catalyst/AQE broadcasts it at this
    scale; at web scale (vocab beyond the broadcast threshold) the same
    plan degrades to a shuffle join on term, which is the correct plan.
    Per-doc aggregation is the only other shuffle. Same tokenization
    contract as tfidf_top_terms (lowercased whitespace tokens).
    """
    from etl_excel_csv_sql_spark.operators.relational import spread_for_compute

    toks = (
        spread_for_compute(df)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(tokens(text_col)).alias("term_raw"),
        )
        .select("doc", F.lower(F.col("term_raw")).alias("term"))
    )
    # checkpoint the term-cardinality vocab: the totals aggregate and the
    # scoring join both consume it — without this the corpus explode+count
    # runs three times (vocab for totals, vocab for the join, toks for
    # scoring) instead of the two passes the algorithm needs
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    totals = F.broadcast(vocab.agg(F.sum("c").alias("n")))
    scored = toks.join(vocab, "term").crossJoin(totals)
    return (
        scored.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                -F.sum(
                    F.log2(F.col("c").cast("double") / F.col("n").cast("double"))
                )
                / F.count(F.lit(1)),
                6,
            ).alias("bits_per_token"),
        )
    )


def normalize_unicode(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization (NFC/NFD/NFKC/NFKD) of a text column — the
    canonical first step of any multilingual corpus pipeline (composed
    vs decomposed accents otherwise break dedup fingerprints, tokenizer
    merges and equality joins).

    The JVM has no normalization expression in pyspark.sql.functions, so
    this is an Arrow-batched ``mapInPandas`` narrow map over
    ``unicodedata.normalize`` (stdlib, Unicode-standard behavior —
    matching DuckDB's ``nfc_normalize``): no shuffle, vectorized
    transfer, no per-row Python objects beyond the string batch itself.

    Output: (id, len_raw, text_norm, len_norm) — length deltas are the
    cheap monitor for how much composition actually happened.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    # id keeps the INPUT's type (see compression_ratio)
    id_type = df.schema[id_col].dataType
    src = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t")
    )
    out_schema = StructType(
        [
            StructField("id", id_type),
            StructField("len_raw", IntegerType()),
            StructField("text_norm", StringType()),
            StructField("len_norm", IntegerType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import unicodedata

        for pdf in it:
            norm = pdf["t"].map(
                lambda s: unicodedata.normalize(form, s)
                if s is not None
                else None
            )
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "len_raw": pdf["t"].str.len().astype("Int32"),
                    "text_norm": norm,
                    "len_norm": norm.str.len().astype("Int32"),
                }
            )

    return src.mapInPandas(batches, out_schema)


def bigram_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
) -> DataFrame:
    """Per-document cross-entropy under the corpus's own BIGRAM LM with
    add-k smoothing — the order-sensitive upgrade of
    :func:`unigram_surprisal`: shuffled-word salad scores normal under
    a unigram model but improbable under the conditional
    P(w_i | w_{i-1}), so this is the signal that separates fluent text
    from bag-of-words spam.

    bits_per_bigram = -(1/(n-1)) Σ log2( (c(v,w)+k) / (c(v,·)+k·V) )
    over the doc's adjacent token pairs, with V the vocabulary over
    bigram slots (tokens of 1-token docs open no bigram and are
    outside the model, mirrored by the oracle). Docs with fewer than two tokens have no bigrams
    and drop out (mirrored by the oracle).

    Plan: bigrams are built NARROW — zip_with over the token array and
    its shift-by-one slice, no per-doc window, no positional self-join
    — then exploded once. The LM is two grouped aggregates on that one
    exploded frame ((prev, term) counts; prev totals derived from them),
    V rides as an in-plan broadcast 1-row aggregate, and scoring joins
    bigrams back on (prev, term) — vocab-sized frames against the
    corpus-sized probe, broadcast at test scale, shuffle join at web
    scale, both the right plan.
    """
    from etl_excel_csv_sql_spark.operators.relational import (
        spread_for_compute,
    )

    arr = F.transform(tokens(text_col), lambda t: F.lower(t))
    n = F.size(arr)
    win = F.greatest(n - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(arr, F.lit(1), win),
        F.slice(arr, F.lit(2), win),
        lambda a, b: F.struct(a.alias("prev"), b.alias("term")),
    )
    big = (
        spread_for_compute(df)
        .select(F.col(id_col).alias("doc"), F.explode(pairs).alias("p"))
        .select("doc", F.col("p.prev").alias("prev"), F.col("p.term").alias("term"))
    )
    # checkpoint: the bigram-count frame feeds the prefix totals, the
    # vocab scalar AND the scoring join
    c2 = (
        big.groupBy("prev", "term")
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint(eager=True)
    )
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    # V counts every unigram type, including final tokens that never
    # open a bigram: distinct over both bigram slots
    vocab = F.broadcast(
        c2.select(F.col("prev").alias("t"))
        .union(c2.select("term"))
        .agg(F.countDistinct("t").alias("v"))
    )
    scored = big.join(c2, ["prev", "term"]).join(c1, "prev").crossJoin(vocab)
    prob = (F.col("c2") + F.lit(k)) / (
        F.col("c1") + F.lit(k) * F.col("v").cast("double")
    )
    return scored.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-F.avg(F.log2(prob)), 6).alias("bits_per_bigram"),
    )


def importance_weights(df: DataFrame, target: Column, k: float = 0.5) -> DataFrame:
    """Data-selection importance score in the DSIR spirit (Xie et al.,
    arXiv 2302.03169): per-document mean log-likelihood ratio between a
    TARGET-domain unigram LM and the general-corpus LM, both estimated
    from the corpus itself with add-k smoothing —

        llr(doc) = (1/n) Σ_w [ log2 P_t(w) − log2 P_g(w) ]

    Positive scores mark documents that look like the target slice
    (``target`` is any boolean Column over the input rows); ranking or
    exponentiated-sampling on this score is importance resampling.
    (DSIR hashes n-grams into buckets; on this corpus plain unigrams
    are the faithful small-scale instantiation — swap `tokens` for a
    hashed-ngram column to get the paper's exact estimator.)

    Plan: ONE token explode feeds both LMs — counts carry a
    conditional sum for the target slice (no second pass over the
    corpus); totals ride as an in-plan broadcast 1-row aggregate;
    scoring is one join on term (vocab-sized build side). Smoothing
    uses the overall vocab size V for both models so unseen-in-target
    terms stay finite.
    """
    from etl_excel_csv_sql_spark.operators.relational import (
        spread_for_compute,
    )

    toks = (
        spread_for_compute(df)
        .select(
            F.col("doc_id").alias("doc"),
            target.cast("int").alias("is_t"),
            F.explode(tokens("text")).alias("term_raw"),
        )
        .select("doc", "is_t", F.lower("term_raw").alias("term"))
    )
    vocab = (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("cg"),
            F.sum("is_t").alias("ct"),
        )
        .localCheckpoint(eager=True)  # feeds totals AND the scoring join
    )
    totals = F.broadcast(
        vocab.agg(
            F.sum("cg").alias("ng"),
            F.sum("ct").alias("nt"),
            F.count(F.lit(1)).cast("double").alias("v"),
        )
    )
    scored = toks.join(vocab, "term").crossJoin(totals)
    log_pt = F.log2(
        (F.col("ct") + F.lit(k)) / (F.col("nt") + F.lit(k) * F.col("v"))
    )
    log_pg = F.log2(
        (F.col("cg") + F.lit(k)) / (F.col("ng") + F.lit(k) * F.col("v"))
    )
    return scored.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(log_pt - log_pg), 6).alias("llr_per_token"),
    )


#: Gopher-rule stopword probe list (Rae et al. 2021 use a similar small
#: English function-word set; membership of >=1 is the "natural
#: language" smell test).
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "a", "be", "to", "of", "and", "that", "have", "with", "in",
)


def gopher_rules(df: DataFrame) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al., arXiv 2112.11446
    §A1.1): named boolean heuristics whose conjunction is the keep/drop
    decision of the classic pre-training text filter — word-count
    bounds [20, 100000], mean-word-length band [2, 10], symbol-to-word
    ratio cap 0.1, alphabetic-word fraction floor 0.8, and the stopword
    "natural language" probe (at least one hit). Individual flags are emitted alongside ``keep`` so a
    pipeline can audit WHICH rule killed a document (the operational
    difference between a filter and a black box).

    Plan: 100% narrow column expressions over the token array (filter/
    size/aggregate higher-order functions inside codegen) — no explode,
    no shuffle, no Python. Filtering 100 TB of text stays
    embarrassingly parallel.
    """
    # the SHARED tokenization contract (functions.text.tokens) — a
    # private re-implementation here could silently drift from every
    # other operator's tokenizer (code-review r9 catch)
    arr = tokens(F.lower(F.col("text")))
    n = F.size(arr)
    nd = n.cast("double")
    total_len = F.aggregate(
        arr, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    mean_wl = F.when(n > 0, total_len / nd).otherwise(F.lit(0.0))
    n_symbol = F.size(
        F.filter(
            arr,
            lambda t: t.startswith("#") | t.contains("..."),
        )
    )
    n_alpha = F.size(F.filter(arr, lambda t: t.rlike("[a-z]")))
    stop_hits = F.size(
        F.filter(arr, lambda t: t.isin(*GOPHER_STOPWORDS))
    )
    rules = {
        "rule_word_count": (n >= 20) & (n <= 100_000),
        "rule_mean_word_len": (mean_wl >= 2.0) & (mean_wl <= 10.0),
        "rule_symbol_ratio": F.when(
            n > 0, n_symbol / nd <= 0.1
        ).otherwise(F.lit(False)),
        "rule_alpha_frac": F.when(
            n > 0, n_alpha / nd >= 0.8
        ).otherwise(F.lit(False)),
        "rule_stopwords": stop_hits >= 1,
    }
    out = df.select(
        F.col("doc_id").alias("doc"),
        n.cast("bigint").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        stop_hits.cast("bigint").alias("stopword_hits"),
        *[expr.alias(name) for name, expr in rules.items()],
    )
    keep = F.col("rule_word_count")
    for name in list(rules)[1:]:
        keep = keep & F.col(name)
    return out.withColumn("keep", keep)


def corpus_datacard(df: DataFrame) -> DataFrame:
    """One-stop corpus summary in the datasheets-for-datasets spirit
    (Gebru et al., CACM 2021): the tall (metric, value) frame a corpus
    release ships next to the shards — sizes, token distribution,
    language mix, source spread, exact-duplicate rate.

    TWO passes total, both bounded: one aggregate over the documents
    (per-row token counts computed narrow; the md5 text fingerprint's
    distinct count rides the same pass as approx-free exact
    count-distinct), one tiny per-language aggregate inlined as extra
    rows. Every value is a double so the frame stays tall and typed.
    """
    toks = token_count("text")  # the shared tokenization contract
    base = df.select(
        F.col("doc_id").alias("id"),
        toks.alias("n_tok"),
        F.md5(F.col("text")).alias("fp"),
        F.col("lang"),
        F.col("source").alias("src"),
    )
    one = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("n_tok").cast("double").alias("n_tokens"),
        F.avg("n_tok").alias("mean_tokens"),
        F.min("n_tok").cast("double").alias("min_tokens"),
        F.max("n_tok").cast("double").alias("max_tokens"),
        F.countDistinct("fp").cast("double").alias("n_distinct_texts"),
        F.countDistinct("lang").cast("double").alias("n_langs"),
        F.countDistinct("src").cast("double").alias("n_sources"),
    )
    metrics = one.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("metric"),
                        F.round(expr, 6).alias("value"),
                    )
                    for name, expr in [
                        ("n_docs", F.col("n_docs")),
                        ("n_tokens", F.col("n_tokens")),
                        ("mean_tokens_per_doc", F.col("mean_tokens")),
                        ("min_tokens", F.col("min_tokens")),
                        ("max_tokens", F.col("max_tokens")),
                        ("n_langs", F.col("n_langs")),
                        ("n_sources", F.col("n_sources")),
                        (
                            "exact_dup_rate",
                            1.0 - F.col("n_distinct_texts") / F.col("n_docs"),
                        ),
                    ]
                ]
            )
        )
    )
    lang_rows = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(one.select("n_docs")))
        .select(
            F.concat(F.lit("lang_frac_"), F.col("lang")).alias("metric"),
            F.round(F.col("n") / F.col("n_docs"), 6).alias("value"),
        )
    )
    return metrics.unionByName(lang_rows)


def vocab_coverage_report(
    df: DataFrame,
    ks: tuple[int, ...] = (100, 1000, 10000),
) -> DataFrame:
    """Vocabulary-budget coverage: for each candidate vocab size K, the
    share of token OCCURRENCES covered by the top-K most frequent
    types — the first question of any tokenizer/embedding-table budget
    ("how big must V be before OOV is negligible?"). The complement of
    each row is the OOV rate at that budget.

    Scale shape: one token explode -> one vocab shuffle (term counts);
    the frequency ranking runs on the VOCAB frame via
    relational.global_row_number under the (count desc, term) total
    order — no single-partition window even at web-scale vocabularies —
    and coverage at each K is one conditional sum.
    """
    from etl_excel_csv_sql_spark.operators.relational import (
        global_row_number,
        spread_for_compute,
    )

    toks = (
        spread_for_compute(df)
        .select(F.explode(tokens("text")).alias("t"))
        .select(F.lower("t").alias("term"))
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    ranked = global_row_number(
        vocab,
        [F.col("c").desc(), F.col("term").asc()],
        out_col="rank",
    )
    return ranked.agg(
        *[
            agg
            for k in ks
            for agg in (
                F.sum(F.when(F.col("rank") <= k, F.col("c"))).alias(f"cov{k}"),
                F.sum(F.when(F.col("rank") <= k, 1)).alias(f"types{k}"),
            )
        ],
        F.sum("c").alias("total"),
    ).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("vocab_size"),
                        F.coalesce(F.col(f"types{k}"), F.lit(0))
                        .cast("bigint")
                        .alias("types_used"),
                        F.round(
                            F.coalesce(F.col(f"cov{k}"), F.lit(0))
                            / F.col("total"),
                            6,
                        ).alias("occurrence_coverage"),
                    )
                    for k in ks
                ]
            )
        )
    )


def train_quality_classifier(
    labeled: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    model_dir: str | None = None,
):
    """Fit the GPT-3/LLaMA-style quality classifier: logistic regression
    separating a trusted reference corpus (label 1) from raw crawl
    (label 0) on cheap per-doc features (the doc_stats / gopher_rules /
    lexical_diversity outputs are the intended inputs).

    pyspark.ml LogisticRegression (distributed L-BFGS: one treeAggregate
    gradient pass per iteration, model state driver-side and dim-bounded
    like the PCA/k-means artifacts). Returns the fitted PipelineModel
    (assembler + LR) — broadcast it by just calling `.transform`.

    The heuristic filters (quality_filter, gopher_rules) are fixed
    rules; this LEARNS the boundary from a reference corpus and is the
    standard second filtering stage at 100 TB (GPT-3 appendix A,
    LLaMA-1 CCNet pipeline).

    ``model_dir`` persists the fitted pipeline and returns the LOADED
    copy. This is not optional hygiene: the freshly-fit
    LogisticRegressionModel retains a trainingSummary that references
    the SparkSession, and when the transform closure captures the model
    the task fails with 'Task not serializable:
    ObservationManager' (r12 full-sweep catch — the save/load roundtrip
    strips the summary, and the saved dir is the deployable artifact a
    scoring cluster loads anyway). Defaults to a scratch dir.
    """
    import tempfile

    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    assembler = VectorAssembler(
        inputCols=list(feature_cols), outputCol="__features"
    )
    lr = LogisticRegression(
        featuresCol="__features",
        labelCol=label_col,
        maxIter=50,
        regParam=0.0,
        standardization=True,
    )
    fitted = Pipeline(stages=[assembler, lr]).fit(labeled)
    if model_dir is None:
        model_dir = tempfile.mkdtemp(prefix="quality_clf_")
    fitted.write().overwrite().save(model_dir)
    return PipelineModel.load(model_dir)


def classify_quality(
    model, docs: DataFrame, feature_cols: list[str], keep_threshold=None
) -> DataFrame:
    """Score docs with a trained quality classifier: appends
    ``prediction`` (0.0/1.0). A ``keep_threshold`` instead keeps rows
    whose P(quality) ≥ threshold (Pareto-style importance sampling uses
    the raw probability; plain filtering uses the argmax prediction).
    The transform is a narrow map over broadcast coefficients — no
    shuffle, no Python in the row path (MLlib codegen)."""
    scored = model.transform(docs)
    if keep_threshold is None:
        return scored.drop("__features", "rawPrediction", "probability")
    from pyspark.ml.functions import vector_to_array

    return (
        scored.withColumn(
            "__p1", vector_to_array(F.col("probability"))[1]
        )
        .filter(F.col("__p1") >= F.lit(float(keep_threshold)))
        .drop("__features", "rawPrediction", "probability", "__p1")
    )
