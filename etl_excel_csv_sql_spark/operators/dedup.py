"""Deduplication operators for training-data pipelines.

Five strategies, all shuffle-lean by construction:

- exact_dedup_fingerprint: md5 over normalized text → groupBy. One shuffle
  on the 128-bit fingerprint (tiny rows: id + hash), never on the text.
- minhash_lsh_pairs: shingle → k minhashes → band buckets → candidate join
  → exact-Jaccard verify. The classic MinHash+LSH plan; the only shuffle
  keys are (band, band_hash) buckets, and verification joins back to
  shingle sets only for candidate pairs.
- simhash_pairs: 64-bit SimHash + Hamming-ball banding.
- ngram_jaccard_pairs: exact Jaccard via shingle inverted index (posting-
  list self-join). Quadratic only within identical-shingle groups.
- embedding_dup_pairs: cosine ≥ τ pairs via LSH signature bucketing (see
  similarity.py for the brute-force baseline).

All return pair frames (id_a < id_b) so callers can build connected
components or keep-first filters downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_excel_csv_sql_spark.functions.text import (
    normalize_text,
    positional_word_ngrams,
    tokens,
)
from etl_excel_csv_sql_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from etl_excel_csv_sql_spark.operators.relational import spread_for_compute


#: Version tag for the shingle→base-hash mapping that MinHash signatures
#: are built from. Bump whenever the mapping changes (r9: joined-string
#: xxhash64 → direct token-slice xxhash64): a persisted MinHashIndex
#: whose signatures predate the current mapping would otherwise
#: hash-join NOTHING against fresh query signatures — silently missing
#: every duplicate — because the bucket keys no longer align. The tag
#: rides in the index manifest, so skip_if_exists voids stale caches.
SIGNATURE_ALGO = "slice-xxhash64-v2"


def _exploded_shingle_hash_rows(
    df: DataFrame, id_col: str, text_col: str, n: int, seed: int = 42
) -> DataFrame:
    """(id, __h): one row per word-shingle POSITION — duplicates kept,
    consumers dedup where set semantics require it.

    Hash i is ``xxhash64(seed, toks[i], ..., toks[i+n-1])`` over the
    tokens of :func:`functions.text.tokens`, with the n tokens as FLAT
    xxhash64 children: GetArrayItem + xxhash64 are whole-stage codegen,
    where a ``transform(sequence(...), i -> xxhash64(seed, slice(toks,
    i+1, n)))`` lambda runs interpreted and allocates a slice array per
    shingle. xxhash64 over an array chains element hashes exactly like
    flat children, so the values equal that slice form's and the
    MinHash signatures stay those of SIGNATURE_ALGO.

    The contract every set consumer relies on: per document, the
    distinct hashes are exactly as many as the distinct strings of
    :func:`functions.text.word_shingles` (tokens hold no whitespace, so
    a token slice and its joined shingle are in bijection, modulo
    ~2⁻⁶⁴ collisions; tests/test_properties pins it). Docs shorter than
    n tokens yield ONE whole-token-array hash, the twin of the
    whole-text shingle; NULL text yields one NULL hash row (never a
    constant key nulls would equi-join on).
    """
    base = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__toks")
    )
    k = F.size("__toks")
    # -1 marks the whole-array fallback row (short or null/empty text);
    # size(NULL toks) is NULL, so the k >= n test is NULL and null-text
    # docs fall through to the fallback row too
    pos = F.when(k >= n, F.sequence(F.lit(0), k - n)).otherwise(
        F.array(F.lit(-1))
    )
    ex = base.select("id", "__toks", F.explode(pos).alias("__i"))
    flat = F.xxhash64(
        F.lit(seed), *[F.col("__toks")[F.col("__i") + j] for j in range(n)]
    )
    whole = F.when(
        F.col("__toks").isNotNull(), F.xxhash64(F.lit(seed), F.col("__toks"))
    )
    return ex.select(
        "id", F.when(F.col("__i") >= 0, flat).otherwise(whole).alias("__h")
    )


def exact_dedup_fingerprint(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(fingerprint, dup_count, keeper_id): md5 of normalized text, groups
    with their min-id keeper. Shuffles only (fingerprint, id) pairs — at
    100 TB the text column never leaves the map side."""
    fp = df.select(
        F.col(id_col).alias("id"), F.md5(normalize_text(text_col)).alias("fingerprint")
    )
    return fp.groupBy("fingerprint").agg(
        F.count("*").alias("dup_count"), F.min("id").alias("keeper_id")
    )


def shingle_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Checkpointed distinct-shingle inverted index: (id, shingle) rows.

    ``max_df`` is the stop-shingle cutoff (see :func:`ngram_jaccard_pairs`
    — a df=d shingle produces d² candidate rows, so boilerplate shingles
    are removed via a broadcast anti-join before any self-join). The
    checkpoint materializes the index once because every consumer reads
    it 2-3 times (per-doc sizes + both sides of the posting-list
    self-join) and the tokenize→shingle explode is the expensive part;
    at scale this trades local-disk I/O for re-shingling the corpus.

    The posting key is ``xxhash64`` of the shingle's tokens (same design
    as ``duplicate_ngram_spans(hash_grams=True)``) — 8 bytes instead of
    an n-word string — so the checkpoint, the shuffle, and every join
    comparison shrink by the average shingle width. Set SIZES and
    intersection COUNTS are invariant under an injective-in-practice
    hash (a 64-bit collision inside one document's set or across a
    pair's intersection has probability ~|shingles|²/2⁶⁵), so
    Jaccard/containment values equal the string-keyed DuckDB oracle's.
    """
    # codegen position explode + keys-only distinct aggregate: one
    # (id, shingle-hash) row per distinct shingle of each doc, incl. the
    # NULL row for null-text docs, without an interpreted
    # transform/slice lambda (the dominant CPU of the posting build).
    # The distinct's partial aggregate dedups map-side, so its
    # exchange carries ~16 bytes per distinct shingle.
    shingled = _exploded_shingle_hash_rows(
        spread_for_compute(df), id_col, text_col, n
    ).select("id", F.col("__h").alias("shingle")).distinct()
    if max_df is None:
        # Partitioning note (ADVICE r15): the r15 keys-only distinct
        # introduced one exchange (hash on (id, shingle)) that the
        # per-row array_distinct form did not have, and the checkpointed
        # frame is therefore partitioned by that hash. localCheckpoint
        # drops outputPartitioning metadata either way, so no consumer
        # could rely on the old layout; the measured win (the
        # interpreted transform/slice lambda leaving the posting build,
        # dedup_keep_first oracle run 40.5s → 11.7s like-for-like)
        # covers the max_df=None consumers too — the distinct's partial
        # aggregate dedups map-side, so the added exchange carries ~16
        # bytes per DISTINCT shingle, strictly less than the raw
        # positional rows it replaced.
        return shingled.localCheckpoint(eager=True)
    # r16 (guide §2.4 "two operations keyed the same way can share
    # one exchange"): the postings END IN AN EXCHANGE (the keys-only
    # distinct), and both stop-shingle consumers — the hot aggregate
    # and the anti-join input — read that one materialized AQE query
    # stage (stage-level exchange reuse), so the raw postings are never
    # recomputed and no persist is needed. Within-session alternating
    # A/B at sf0.1 (4 pairs, warm): build CPU 8.6-10.4s with a persist
    # vs 6.5-8.3s without, one fewer job. (Runtime SQL plan at the
    # driver SFs additionally shows AQE's empty-relation propagation
    # eliding the anti-join outright when no shingle exceeds max_df.)
    hot = (
        shingled.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    return shingled.join(
        F.broadcast(hot), "shingle", "left_anti"
    ).localCheckpoint(eager=True)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """DIRECTED near-dup pairs by shingle-set containment
    C(src→dst) = |S_src ∩ S_dst| / |S_src| ≥ threshold.

    Containment is the sub-document inclusion signal Jaccard misses: a
    short doc pasted inside a long one has high containment but low
    Jaccard (the union is dominated by the long side). Same inverted-
    index plan as :func:`ngram_jaccard_pairs` — the unordered
    intersection is computed ONCE per pair, then both directions are
    emitted and filtered, so asymmetry costs nothing extra.

    Output: (id_src, id_dst, containment) — src's shingles appear in dst.

    ``postings``: a prebuilt :func:`shingle_postings` frame (bring-your-
    own inverted index — see :func:`ngram_jaccard_pairs`).
    """
    shingled = (
        postings
        if postings is not None
        else shingle_postings(df, id_col, text_col, n, max_df)
    )
    sizes = shingled.groupBy("id").agg(F.count("*").alias("set_size"))

    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(
            b,
            on=(F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter_size"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"))
    both = inter.join(sa, "id_a").join(sb, "id_b")
    # both directions EXPLODE from the single joined row (r10 review):
    # the previous fwd.unionByName(rev) consumed `both` twice, running
    # the posting self-join aggregation and both size joins once per
    # branch — the dominant stage executed 2x. The explode keeps the
    # plan lazy (no checkpoint needed) with exactly one consumer.
    directed = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_src"),
                    F.col("id_b").alias("id_dst"),
                    (F.col("inter_size") / F.col("size_a")).alias(
                        "containment"
                    ),
                ),
                F.struct(
                    F.col("id_b").alias("id_src"),
                    F.col("id_a").alias("id_dst"),
                    (F.col("inter_size") / F.col("size_b")).alias(
                        "containment"
                    ),
                ),
            )
        ).alias("d")
    )
    return (
        directed.select("d.id_src", "d.id_dst", "d.containment")
        .filter(F.col("containment") >= threshold)
        .select(
            "id_src", "id_dst", F.round("containment", 6).alias("containment")
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted index:

    explode distinct shingles → self-join on shingle (id_a < id_b) →
    |intersection| per pair → Jaccard. The self-join shuffles on the
    shingle hash; hot shingles are the skew risk.

    ``max_df`` is the stop-shingle cutoff: shingles appearing in more than
    ``max_df`` documents (boilerplate) are removed from every shingle set
    before the self-join — a shingle with df=d produces d² candidate rows,
    so one boilerplate shingle at 100 TB is a killer bucket. The hot set is
    small by definition, so it is broadcast and anti-joined (the inverted
    index itself never collects). Jaccard is then computed over the
    *retained* shingle sets on both sides of the oracle.

    Exact (not approximate): use minhash_lsh_pairs when the candidate set
    must stay subquadratic.

    Posting keys are ``xxhash64(shingle)`` longs — the self-join
    shuffles 8-byte keys instead of n-word strings, with output values
    identical to string keys (see :func:`shingle_postings`).

    ``postings``: bring-your-own inverted index — a prebuilt (and
    checkpointed) :func:`shingle_postings` frame. The corpus-scale
    pattern: build the index ONCE per corpus snapshot, then run Jaccard,
    containment, and the connected-components family against the same
    materialization instead of re-shingling the corpus per consumer
    (r10 VERDICT #2). The caller owns the contract that ``postings`` was
    built with the SAME (n, max_df) this call names;
    ``df``/``text_col`` are ignored when it is given.
    """
    shingled = (
        postings
        if postings is not None
        else shingle_postings(df, id_col, text_col, n, max_df)
    )
    sizes = shingled.groupBy("id").agg(F.count("*").alias("set_size"))

    # r16 size-ratio prefilter (guide §3.2 "reduce the big side before
    # shuffling", §2.3): attach each posting row's per-doc set size below
    # the self-join (AQE broadcasts `sizes` locally; at scale it is one
    # extra exchange of 8-byte metadata) and drop intersection rows whose
    # pair cannot reach the threshold BEFORE they enter the pair-count
    # exchange — the top exec consumer of the whole dedup family (VERDICT
    # r15 #3). The pruning test is EXACTLY the final filter evaluated at
    # the maximum possible intersection I = min(size_a, size_b): the same
    # long-to-double division the jaccard filter runs, so double rounding
    # cannot disagree between the two tests (a naive `size_a >= t*size_b`
    # bound drops the boundary pair size 3 vs 25 at t=0.12, where
    # 0.12*25 rounds to 3.0000000000000004 > 3 but 3/25 == the 0.12
    # double exactly). jaccard_double(I) is nondecreasing in I (exact
    # longs, correctly-rounded division of a monotone quotient), so
    # best_jaccard < t ⇒ every achievable jaccard < t: pruned pairs are
    # precisely pairs the old plan aggregated and then discarded.
    # Carrying set sizes through the pair aggregate (functionally
    # dependent grouping keys) also retires the two post-aggregate size
    # joins the old plan ran.
    sized = shingled.join(sizes, "id")
    a = sized.alias("a")
    b = sized.alias("b")
    min_size = F.least(F.col("a.set_size"), F.col("b.set_size"))
    best_jaccard = min_size / (
        F.col("a.set_size") + F.col("b.set_size") - min_size
    )
    inter = (
        a.join(
            b,
            on=(F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & (best_jaccard >= threshold),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count("*").alias("inter_size"))
    )
    jac: Column = F.col("inter_size") / (
        F.col("size_a") + F.col("size_b") - F.col("inter_size")
    )
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 32, n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, signature array<long>): signature[i] = min over shingles of
    xxhash64(i, base_hash(shingle)).

    Plan shape (r15 optimization): explode the shingle-hash array and
    compute all ``num_hashes`` lanes as ONE codegen'd hash aggregate of
    ``min(xxhash64(i, h))`` columns grouped by id. Higher-order-function
    lambdas (the previous ``F.aggregate`` fold) are CodegenFallback —
    every fold step ran interpreted AND allocated a fresh num_hashes
    array per shingle; the flat min-aggregate buffer is whole-stage
    codegen with zero per-element allocation (guide §4.1). Partial
    aggregation finishes map-side (ids are the grouping key, shingles of
    one doc are co-located after explode), so the exchange carries ONE
    ~(8 + 8·num_hashes)-byte row per doc — at 100 TB the shuffle is
    per-document metadata, never shingles. Signature VALUES are
    bit-identical to the fold (same min over the same lane hashes), so
    banding, candidates, and persisted MinHashIndex artifacts are
    unchanged. The naive nested-transform form (signature[i] =
    array_min(transform(shingles, hash_i))) re-evaluates the whole
    shingle pipeline per lane — a measured ~20× slowdown — and the
    interpreted fold this replaces measured ~5× the aggregate's exec
    (sf0.1 headline: 27.5s → ~5s summed executor CPU)."""
    # Duplicate shingle positions flow straight into the min lanes —
    # duplicates cannot change a min, and skipping the dedup pass keeps
    # the whole stage codegen (the boilerplate-document guard is now the
    # 32 cheap per-row min updates themselves, no array_distinct pass).
    # NULL-text docs get NO signature row at all (r10 review): every
    # null-text doc would otherwise share one constant signature, every
    # band bucket, and est_jaccard 1.0 with every other null doc
    # (quadratic candidates on a null-heavy corpus), where the string
    # path (and the DuckDB oracles) never equi-join nulls. The explode
    # emits ≥1 row per doc (short docs hash the whole token array), so
    # it cannot drop a non-null-text doc.
    exploded = _exploded_shingle_hash_rows(
        spread_for_compute(df).where(F.col(text_col).isNotNull()),
        id_col, text_col, n, seed,
    )
    lanes = [
        F.min(F.xxhash64(F.lit(i), F.col("__h"))).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    return (
        exploded.groupBy("id")
        .agg(*lanes)
        .select(
            "id",
            F.array(
                *[F.col(f"__m{i}") for i in range(num_hashes)]
            ).alias("signature"),
        )
    )


def _band_keys(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) LSH keys: xxhash64 of each band's signature
    slice (arrays hash directly — no string building). Python-level
    loop: slice offsets are compile-time ints. Narrow map, no shuffle.
    Input contract: ``sigs`` carries no null signatures —
    minhash_signatures (the only producer) drops null-text docs at the
    source; re-filtering HERE would push the predicate through the
    projection and re-inline the whole lane fold (measured 2.7x on the
    headline query). Invalid band counts fail loudly (r10 review):
    bands > num_hashes made every slice empty (ONE global bucket — the
    full O(n²) cross product), and a non-divisor silently dropped the
    trailing lanes from the documented recall math."""
    if bands < 1 or bands > num_hashes or num_hashes % bands:
        raise ValueError(
            f"bands must divide num_hashes (got bands={bands}, "
            f"num_hashes={num_hashes})"
        )
    rows_per_band = num_hashes // bands
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.slice(
                                F.col("signature"), b * rows_per_band + 1, rows_per_band
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, exact-Jaccard verified.

    Plan shape (the scale path — subquadratic candidate generation):
      1. signatures: narrow map, no shuffle
      2. explode into ``bands`` (band_id, hash(band slice)) bucket keys
      3. self-join within buckets → candidate pairs (shuffle on bucket key;
         bucket sizes are the skew knob — more bands → smaller buckets)
      4. distinct candidates, then exact Jaccard verify via the shingle
         inverted index restricted to candidates (broadcast of the
         candidate id set when small, else a semi join)

    Probability a pair with Jaccard j becomes a candidate:
    1-(1-j^(num_hashes/bands))^bands — 32 hashes / 8 bands ≈ r=4 rows per
    band, catching j≥0.5 with p≈0.63, j≥0.7 with p≈0.95.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, n, 42)
    banded = _band_keys(sigs, num_hashes, bands)

    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            on=(F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        # Materialize once: the candidate frame feeds three consumers below
        # (two branches of the id-set union and the pair-lookup explode) and
        # is tiny relative to the corpus — without this the signature+banding
        # join is recomputed per consumer. r16: the checkpoint is LAZY —
        # every consumer lives inside the final action, whose first stage
        # to touch a candidate partition computes and caches it (BlockManager
        # per-block locks keep concurrent readers single-compute), so the
        # separate eager materialization job disappears (VERDICT r15 #6's
        # job-count lens applied here; A/B'd in the r16 ledger).
        .localCheckpoint(eager=False)
    )

    # Exact verify: Jaccard on the candidate pairs only. The corpus is
    # semi-joined down to candidate ids BEFORE shingling, so the verify
    # stage shuffles shingles for |candidate docs| rows, not |corpus| —
    # AQE turns the semi join into a broadcast when the id set is small.
    # ReuseExchange dedupes the banding shuffle that feeds both this id
    # set and the pair join below.
    cand_ids = (
        candidates.select(F.col("id_a").alias("id"))
        .union(candidates.select(F.col("id_b").alias("id")))
        .distinct()
    )
    restricted = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        .join(cand_ids, "id", "left_semi")
    )
    # Shingle keys are xxhash64 longs: the verify only counts matches
    # (set sizes + intersection sizes), never emits the shingle, so
    # 8-byte keys shrink the shuffle by the average shingle width at
    # identical output (collision odds ~pairs/2⁶⁵ — the same risk class
    # as the banding hash itself).
    #
    # r15 optimization (guide §2.3 "shuffle keys and metadata instead of
    # payloads", §2.4): each candidate doc's DISTINCT shingle-hash set
    # stays one ARRAY row (~8·|set| bytes) instead of |set| exploded
    # posting rows, and the per-pair intersection count is a codegen'd
    # array_intersect over the two joined sets — the posting-level
    # shuffle, the shingle-keyed self-join, and the per-pair groupBy
    # disappear outright, and a hot shingle shared by many candidates
    # can no longer create a quadratic join bucket (per-pair work is
    # O(|set_a|+|set_b|), period). The previous shape also re-ran the
    # restricted explode for all three consumers (sizes + both join
    # sides); the set frame has two consumers (the id_a and id_b
    # lookups), both bounded by the candidate set — the LeftSemi the
    # plan test pins. Counts are identical (both sides are distinct
    # sets), so jaccard values are bit-identical.
    # collect_set gives each doc's distinct shingle-hash set, sized
    # like its word_shingles set (only sizes and intersection COUNTS are
    # consumed); the codegen explode replaces the interpreted
    # transform/slice lambda that dominated the verify stage's CPU. Null-text docs are
    # never candidates (no signature row), so the NULL-hash row cannot
    # occur here.
    # Per-doc set-size assumption (ADVICE r15): collect_set buffers one
    # candidate doc's ENTIRE distinct shingle set in a single row, and the
    # per-pair intersect below is O(|set_a|+|set_b|) — right for the
    # near-dup regime this operator targets (documents, not archives); a
    # pathologically long candidate makes its row proportionally large
    # where the old posting join streamed fixed-width rows. Callers
    # feeding multi-MB texts should pre-truncate or fall back to
    # ngram_jaccard_pairs' posting join.
    sets = _exploded_shingle_hash_rows(
        spread_for_compute(restricted), "id", "__text", n
    ).groupBy("id").agg(F.collect_set("__h").alias("__set"))
    # r16: the r15 shape joined `sets` TWICE (an id_a and an id_b lookup),
    # and Catalyst did not reuse the two broadcast builds — the executed
    # plan carried TWO full copies of the sets subtree: corpus union →
    # candidate-id semi-join (pushed into both union branches, so cand_ids
    # evaluated 4×) → spread exchange → shingle explode → collect_set
    # aggregate (plans/r15/minhash_lsh_pairs_after.txt, BroadcastExchange
    # (43) vs (87)). Exploding each candidate pair into two (pair, id)
    # lookup rows makes `sets` a SINGLE-consumer subtree — one join, the
    # whole verify pipeline runs once — and the per-pair aggregate
    # collects exactly the pair's two set arrays. Jaccard is symmetric in
    # the two sets (intersection and size sum), so the collect_list order
    # does not matter and values stay bit-identical to the two-join form.
    cand_long = candidates.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("id")
    )
    pair_sets = (
        cand_long.join(sets, "id")
        .groupBy("id_a", "id_b")
        .agg(F.collect_list("__set").alias("__ss"))
    )
    s0, s1 = F.col("__ss")[0], F.col("__ss")[1]
    inter_size = F.size(F.array_intersect(s0, s1))
    return (
        pair_sets.withColumn("inter_size", inter_size)
        .withColumn(
            "jaccard",
            F.col("inter_size")
            / (F.size(s0) + F.size(s1) - F.col("inter_size")),
        )
        # inter_size > 0 mirrors the previous inner posting join exactly:
        # a candidate pair sharing NO shingle never appeared in the old
        # intersection aggregate, so it must not appear here either even
        # when threshold == 0.0
        .filter((F.col("inter_size") > 0) & (F.col("jaccard") >= threshold))
        .select("id_a", "id_b", "jaccard")
    )


class MinHashIndex:
    """Persisted MinHash-LSH index: incremental dedup of NEW documents
    against an existing corpus without ever re-pairing the corpus with
    itself.

    This is the production shape at 100 TB: `minhash_lsh_pairs` answers
    "which pairs inside this frame are near-dups" (cost grows with the
    whole corpus every run), while a crawl/training pipeline asks "is
    this incoming batch a dup of anything we already have" every few
    minutes. ``build`` runs the signature+banding map ONCE over the
    corpus and persists the (band, bucket, id) keys plus the signatures;
    ``query`` computes the same narrow map over just the new batch and
    hash-joins it against the stored buckets — incremental cost is
    O(|batch| + touched buckets), corpus text is never re-read.

    Verification is the standard MinHash estimator (matching-lane
    fraction — unbiased for true Jaccard, σ = sqrt(j(1-j)/k) ≈ 0.09 at
    k=32): the stored corpus SIGNATURES verify candidates, so the index
    is self-contained. For byte-exact Jaccard, semi-join the candidate
    ids back to the corpus text and reuse the ngram verify — that needs
    corpus text access and is deliberately not part of the index
    contract. Build reuse is fingerprinted like IvfIndex: a changed
    corpus or changed (num_hashes, bands, n, seed) voids the cache.
    """

    def __init__(
        self,
        path: str,
        num_hashes: int = 32,
        bands: int = 8,
        n: int = 3,
        seed: int = 42,
    ):
        self.path = path
        self.num_hashes = num_hashes
        self.bands = bands
        self.n = n
        self.seed = seed

    @property
    def _buckets(self) -> str:
        return f"{self.path}/buckets"

    @property
    def _signatures(self) -> str:
        return f"{self.path}/signatures"

    @property
    def _manifest(self) -> str:
        return f"{self.path}/manifest.json"

    def is_built(self) -> bool:
        import os

        return os.path.exists(self._manifest) and all(
            os.path.exists(os.path.join(p, "_SUCCESS"))
            for p in (self._buckets, self._signatures)
        )

    def _corpus_manifest(self, corpus: DataFrame, id_col: str, text_col: str) -> dict:
        from .relational import table_fingerprint

        row = table_fingerprint(corpus.select(id_col, text_col)).collect()[0]
        return {
            "n_rows": int(row["n_rows"]),
            "fingerprint": str(row["fingerprint"]),
            **self._params(),
        }

    def _params(self) -> dict:
        """The manifest fields that shape signatures and bucket keys."""
        return {
            "num_hashes": self.num_hashes,
            "bands": self.bands,
            "n": self.n,
            "seed": self.seed,
            # signature-algorithm version: an index persisted under an
            # older shingle→hash mapping must rebuild, not silently
            # miss every candidate (old manifests lack the key, so the
            # dict comparison voids them too)
            "sig_algo": SIGNATURE_ALGO,
        }

    def build(
        self,
        corpus: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        skip_if_exists: bool = False,
    ) -> None:
        import json

        manifest = self._corpus_manifest(corpus, id_col, text_col)
        if skip_if_exists and self.is_built():
            try:
                with open(self._manifest) as f:
                    if json.load(f) == manifest:
                        return
            except (OSError, ValueError):
                pass  # unreadable manifest → rebuild
        sigs = minhash_signatures(
            corpus, id_col, text_col, self.num_hashes, self.n, self.seed
        ).localCheckpoint(eager=True)  # feeds both writes; shingle once
        _band_keys(sigs, self.num_hashes, self.bands).write.mode(
            "overwrite"
        ).parquet(self._buckets)
        sigs.write.mode("overwrite").parquet(self._signatures)
        with open(self._manifest, "w") as f:
            json.dump(manifest, f)

    def _check_manifest(self) -> None:
        """Refuse to QUERY an index whose manifest disagrees with this
        instance. Stored signatures from an older shingle→hash mapping
        can never hash-join fresh bucket keys; a different bands or
        seed bands them differently; a different num_hashes or n makes
        the lane comparison read missing or foreign lanes. Unguarded,
        each case silently returns (near-)zero candidates or null lane
        counts — the build(skip_if_exists=True) manifest check alone
        does not protect the build-once-query-forever contract."""
        import json

        try:
            with open(self._manifest) as f:
                stored = json.load(f)
        except (OSError, ValueError):
            return  # unbuilt / unreadable: the parquet read will fail loudly
        mismatched = [
            f"{key} {stored.get(key)!r} (this instance: {want!r})"
            for key, want in self._params().items()
            if stored.get(key) != want
        ]
        if mismatched:
            raise ValueError(
                f"MinHashIndex at {self.path} was built with "
                f"{', '.join(mismatched)}; rebuild the index "
                "(build(..., skip_if_exists=True) rebuilds on mismatch)"
            )

    def query(
        self,
        new_docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.5,
    ) -> DataFrame:
        """(new_id, corpus_id, est_jaccard ≥ threshold) for the incoming
        batch. Plan: narrow signature+banding map over the batch → hash
        join on (band, bucket) against the stored keys (AQE broadcasts
        the batch side when small) → distinct candidates → one join to
        the stored signatures for the matching-lane estimate. An id
        present in both spaces never pairs with itself."""
        self._check_manifest()
        spark = new_docs.sparkSession
        nsigs = minhash_signatures(
            new_docs, id_col, text_col, self.num_hashes, self.n, self.seed
        ).localCheckpoint(eager=True)  # banding + verify both consume it
        nbands = _band_keys(nsigs, self.num_hashes, self.bands)
        buckets = spark.read.parquet(self._buckets)
        candidates = (
            nbands.alias("q")
            .join(
                buckets.alias("c"),
                on=(F.col("q.band") == F.col("c.band"))
                & (F.col("q.bucket") == F.col("c.bucket"))
                & (F.col("q.id") != F.col("c.id")),
            )
            .select(
                F.col("q.id").alias("new_id"), F.col("c.id").alias("corpus_id")
            )
            .distinct()
        )
        csigs = spark.read.parquet(self._signatures)
        # r16 (guide §4.1, VERDICT r15 #5): the zip_with/aggregate fold ran
        # as an interpreted CodegenFallback per candidate; lane offsets are
        # compile-time ints, so the unrolled GetArrayItem equality sum is
        # whole-stage codegen. Bit-identical count: signatures are fixed
        # num_hashes long arrays with no nulls (min over per-lane xxhash64),
        # so element equality and the +-chain match the fold exactly.
        lane_matches = [
            (F.col("q_sig")[i] == F.col("c_sig")[i]).cast("int")
            for i in range(self.num_hashes)
        ]
        matching = lane_matches[0]
        for term in lane_matches[1:]:
            matching = matching + term
        return (
            candidates.join(
                nsigs.select(
                    F.col("id").alias("new_id"), F.col("signature").alias("q_sig")
                ),
                "new_id",
            )
            .join(
                csigs.select(
                    F.col("id").alias("corpus_id"),
                    F.col("signature").alias("c_sig"),
                ),
                "corpus_id",
            )
            .select(
                "new_id",
                "corpus_id",
                F.round(matching / F.lit(self.num_hashes), 6).alias(
                    "est_jaccard"
                ),
            )
            .filter(F.col("est_jaccard") >= threshold)
        )


#: synth_shingle_docs generator constants — shared with the pytest pin
#: (test_dedup) that recomputes every pairwise SimHash distance over the
#: real sf id sets and asserts min non-twin distance > the query's
#: Hamming ball. The j*j term de-aligns any two docs' token sequences
#: (a linear j schedule would let doc i and doc i' share a 28-shingle
#: window whenever 7(i-i') = 13k mod V for small k, collapsing their
#: SimHash distance).
_SYNTH_DOC_TOKENS = 30
_SYNTH_DOC_VOCAB = 99991


def synth_shingle_docs(
    df: DataFrame,
    id_offset: int = 0,
    twin: bool = False,
) -> DataFrame:
    """(id) → (doc_id, text) deterministic synthetic docs for the
    SimHash fixture contract: doc i's tokens are
    ``w{(i*1009 + j*j*7 + j) % 99991}`` for j in 0..29 — id-unique token
    sequences whose pairwise SimHash distances are deterministic
    constants (pytest-pinned far outside the Hamming ball).

    ``twin=True`` emits whitespace-perturbed twins (double-space joins +
    leading/trailing SPACE pad — spaces only: Spark's ``trim`` strips
    0x20 but not tab/newline, and a surviving ``\\t`` would make
    ``split('\\s+')`` emit a leading empty token, changing the shingle
    set): ``functions.text.tokens`` trims and splits on ``\\s+``, so the
    token array — hence the shingle set, hence the SimHash — is
    IDENTICAL to the original's, and every (i, i+offset) twin pair sits
    at Hamming distance EXACTLY 0. The text analog of the r11 remux-WAV
    twin (byte-different container, identical content); all expressions
    are JVM-side concat/pmod — no Python in the row path."""
    base = df.select(
        (F.col("doc_id").cast("long") + F.lit(id_offset)).alias("doc_id"),
        F.col("doc_id").cast("long").alias("__seed"),
    )
    toks = [
        F.concat(
            F.lit("w"),
            F.pmod(
                F.col("__seed") * 1009 + F.lit(j * j * 7 + j),
                F.lit(_SYNTH_DOC_VOCAB),
            ),
        )
        for j in range(_SYNTH_DOC_TOKENS)
    ]
    sep = "  " if twin else " "
    text = F.concat_ws(sep, *toks)
    if twin:
        text = F.concat(F.lit("  "), text, F.lit("   "))
    return base.select("doc_id", text.alias("text"))


def simhash_frame(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, seed: int = 42
) -> DataFrame:
    """(id, simhash): explode the shingle-hash array and tally all 64 bits
    as ONE codegen'd hash aggregate — 64 ``sum((h >> i) & 1)`` columns plus
    ``count(*)`` grouped by id (r15 optimization; guide §4.1). The previous
    ``F.aggregate`` tally fold was CodegenFallback: every shingle ran 64
    interpreted when/otherwise branches AND allocated a fresh 64-int array;
    the flat sum buffer is whole-stage codegen with zero per-element
    allocation (measured ~4× less summed executor CPU on the sf0.1
    headline). Partial aggregation finishes map-side (one doc's shingles
    are co-located after explode), so the exchange carries one ~0.5 KB row
    per doc — per-document metadata even at 100 TB.

    Values are bit-identical to the fold: bit i was set iff the ±1 tally
    ≥ 0, i.e. iff 2·ones_i ≥ n_shingles — the exact integer test used
    here. Null-text docs keep their row with simhash 0 (their single null
    hash makes every ``ones_i`` NULL, so every bit test falls to the
    otherwise-0 branch — the tally fold's -1s produced the same 0)."""
    # SimHash tallies each DISTINCT shingle once (array_distinct
    # semantics), so the codegen position explode is deduped by a
    # keys-only (id, __h) aggregate first: partial aggregation dedups
    # map-side (a doc's rows are co-located after explode), so the
    # extra exchange carries one ~16-byte row per DISTINCT shingle —
    # comparable bytes to the per-doc tally row and still free of any
    # interpreted stage. Null-text docs keep their (id, NULL) row
    # (distinct preserves it), so they still emit simhash 0 below.
    exploded = _exploded_shingle_hash_rows(
        spread_for_compute(df), id_col, text_col, n, seed
    ).distinct()
    ones = [
        F.sum(
            F.shiftrightunsigned(F.col("__h"), i).bitwiseAND(F.lit(1))
        ).alias(f"__c{i}")
        for i in range(64)
    ]
    tallied = exploded.groupBy("id").agg(F.count("*").alias("__n"), *ones)
    # Assemble the signed 64-bit SimHash with exact integer arithmetic:
    # bits are disjoint, so summing per-bit LONG terms equals the bitwise
    # OR; bit 63's two's-complement weight is -2^63, which keeps every
    # intermediate inside the signed-long range.
    terms = [
        F.when(
            F.lit(2) * F.col(f"__c{i}") >= F.col("__n"),
            F.lit(1 << i if i < 63 else -(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(64)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return tallied.select("id", total.alias("simhash"))


def simhash_band_keys(
    sh: DataFrame, max_hamming: int = 3, n_blocks: int | None = None
) -> DataFrame:
    """(id, simhash, combo, key): generalized Manku banding for a
    (id, simhash) frame.

    Split the 64-bit fingerprint into ``n_blocks`` blocks (b > k =
    max_hamming). A pair within Hamming distance k differs in ≤ k blocks,
    so it agrees EXACTLY on some (b-k)-subset of blocks — emit one key per
    C(b, b-k) combination, the key being the concatenated bits of that
    combination's blocks. Candidate generation is exact (a superset of the
    Hamming ball), for ANY valid b; b is purely the bucket-size knob:

      key width ≈ 64·(b-k)/b bits;  rows emitted per doc = C(b, k)

    b = k+1 (the minimal scheme) gives 16-bit keys at k=3 — bucket
    population ≈ n/65k, a quadratic hot spot at ≥10⁹ docs. The default
    b = k+3 gives 32-bit keys (≈ n/4·10⁹ per bucket) for 20 keys/doc at
    k=3 — the right trade at 100 TB, where shuffle rows are cheap and
    quadratic buckets are not. Push b higher still for larger corpora.
    """
    k = max_hamming
    b = n_blocks if n_blocks is not None else k + 3
    # real exceptions, not asserts: under ``python -O`` an invalid b <= k
    # would silently emit keys from combinations(range(b), negative) and
    # return no candidates at all
    if b <= k:
        raise ValueError(f"n_blocks ({b}) must exceed max_hamming ({k})")
    if b > 64:
        raise ValueError(f"n_blocks ({b}) cannot exceed 64 (one block per bit)")
    from itertools import combinations

    # Even bit split: first (64 % b) blocks get one extra bit. Shift
    # amounts are compile-time Python ints (PySpark shift builtins reject
    # Column shift amounts).
    widths = [64 // b + (1 if i < 64 % b else 0) for i in range(b)]
    offsets = [sum(widths[:i]) for i in range(b)]

    def block(i: int) -> Column:
        return F.shiftrightunsigned(F.col("simhash"), offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    combo_structs = []
    for combo_id, keep in enumerate(combinations(range(b), b - k)):
        key: Column | None = None
        for i in keep:
            piece = block(i)
            key = piece if key is None else (
                F.shiftleft(key, widths[i]).bitwiseOR(piece)
            )
        combo_structs.append(
            F.struct(F.lit(combo_id).alias("combo"), key.alias("key"))
        )
    return sh.select(
        "id", "simhash", F.explode(F.array(*combo_structs)).alias("ck")
    ).select(
        "id",
        "simhash",
        F.col("ck.combo").alias("combo"),
        F.col("ck.key").alias("key"),
    )


# Below this corpus size the minimal b = k+1 banding (16-bit keys) keeps
# bucket populations ≈ n/65k ≤ ~30, so per-bucket quadratic verify work is
# bounded (~30² · 65k · (k+1) combos ≈ 2·10⁸ popcounts at the threshold —
# seconds on one executor core); beyond it, widen to 32-bit keys.
_ADAPTIVE_DOCS = 2_000_000


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming.

    Generalized Manku banding (see :func:`simhash_band_keys` for the
    bucket-width math — ``n_blocks`` is the 100 TB knob): candidates from
    per-combination equi-joins, then exact popcount-on-XOR verify, so the
    output is identical for every valid ``n_blocks``. Shuffles only
    (combo, key) longs + ids — never text.

    ``n_blocks=None`` picks the block count ADAPTIVELY from the corpus
    size: the minimal scheme b = k+1 (16-bit keys, C(k+1, k) = k+1
    keys/doc at k=3) while buckets stay sparse, widening to b = k+3
    (32-bit keys, C(k+3, k) keys/doc) past ``_ADAPTIVE_DOCS`` docs where
    16-bit bucket populations turn quadratic. Candidate generation is
    exact for every valid b, so the switch is output-invariant; the count
    probe is free — it runs on the one-long-per-doc checkpointed frame.
    """
    # The self-join consumes the banded frame on both sides and Catalyst
    # does not ReuseExchange across them, so everything upstream runs
    # twice. Checkpoint at the NARROWEST point: (id, simhash) is one long
    # per doc, so the expensive text fold runs once and only the cheap
    # fully-codegen'd banding explode recomputes per side. A/B at sf0.1
    # (warm, best-of-2): no checkpoint 4.40s; banded-frame checkpoint
    # (20 keys/doc — the r3 A/B) ~2x slower; sh checkpoint 3.36s.
    if n_blocks is None:
        # b=k+1 emits (k+1)/C(k+3,k) of the banded rows (4/20 at k=3) —
        # the self-join input shrinks 5x. A/B at sf0.1 (60k docs, warm,
        # best-of-2): fixed b=6 2.89s → adaptive 2.33s (count probe
        # included; explicit b=4 2.16s), identical output (test_dedup
        # proves pair-set equality across b).
        #
        # r16 (VERDICT r15 #4): the checkpoint is LAZY and the adaptive
        # count() is the materializing action — the count scans every
        # partition (full pre-shuffle aggregate), so the checkpoint is
        # fully populated in the same job, where the r15 shape paid an
        # eager-checkpoint job AND a count job back to back. One fewer
        # job per call on the benched path.
        sh = simhash_frame(df, id_col, text_col, n, 42).localCheckpoint(
            eager=False
        )
        n_blocks = (
            max_hamming + 1 if sh.count() <= _ADAPTIVE_DOCS else max_hamming + 3
        )
    else:
        sh = simhash_frame(df, id_col, text_col, n, 42).localCheckpoint(
            eager=True
        )
    return hamming_pairs(sh, max_hamming, n_blocks)


def hamming_pairs(
    sh: DataFrame, max_hamming: int = 3, n_blocks: int | None = None
) -> DataFrame:
    """Near-dup pairs for ANY (id, simhash) 64-bit fingerprint frame:
    Manku banding candidates (exact superset of the Hamming ball, see
    :func:`simhash_band_keys`) + popcount-on-XOR verify. Fingerprint-
    agnostic — text SimHash (:func:`simhash_pairs`) and image perceptual
    hashes (multimodal.ahash_images) share this exact pairing plan."""
    banded = simhash_band_keys(sh, max_hamming, n_blocks)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            on=(F.col("a.combo") == F.col("b.combo"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
    hash_grams: bool = False,
) -> DataFrame:
    """Cross-document repeated n-gram spans — the exact-substring-dedup
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (arXiv:2107.06499), re-expressed as one aggregation.

    Returns (gram, n_docs, n_occurrences) for every n-word gram appearing
    in ≥ ``min_docs`` distinct documents, duplicates counted per token
    position (boilerplate that repeats inside one document AND across
    documents is fully counted).

    Plan: narrow positional-gram explode → one shuffle on the gram for the
    (count distinct id, count *) aggregate, with map-side partials.
    ``hash_grams=True`` is the 100 TB path: the shuffle key becomes
    ``xxhash64(gram)`` (column ``gram_hash``, 8 bytes) instead of the span
    text — same counts, re-join a sample by hash when the text is needed
    for reporting.
    """
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(positional_word_ngrams(text_col, n)).alias("gram"),
    )
    if hash_grams:
        grams = grams.select("id", F.xxhash64("gram").alias("gram_hash"))
    key = "gram_hash" if hash_grams else "gram"
    return (
        grams.groupBy(key)
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def duplicate_span_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of a document's
    n-gram positions whose gram also appears in ≥ ``min_docs`` distinct
    documents — the per-document filter signal derived from
    :func:`duplicate_ngram_spans` (drop or trim docs above a coverage
    threshold).

    Plan: positional grams → duplicated-gram set (one agg shuffle) →
    left-semi membership join (AQE broadcasts the dup set when small) →
    per-doc counts (one shuffle on id, tiny rows). The corpus text never
    shuffles.
    """
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(positional_word_ngrams(text_col, n)).alias("gram"),
    )
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.countDistinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gram")
    )
    totals = grams.groupBy("id").agg(F.count("*").alias("n_positions"))
    dup_counts = (
        grams.join(dup_grams, "gram", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_dup_positions"))
    )
    return (
        totals.join(dup_counts, "id", "left")
        .select(
            "id",
            "n_positions",
            F.coalesce(F.col("n_dup_positions"), F.lit(0)).alias(
                "n_dup_positions"
            ),
        )
        .withColumn(
            "dup_coverage",
            F.round(F.col("n_dup_positions") / F.col("n_positions"), 6),
        )
    )


def _symmetrize(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Both directions of every edge in ONE pass over ``pairs`` (r16,
    guide §2.4): the previous union form read ``pairs`` twice — for a
    lazily-derived star-round output that re-ran the round's join/agg
    pipeline per branch wherever exchange reuse did not fire, and forced
    callers to pre-checkpoint cheap inputs purely to survive the double
    read. The explode emits (u,v) and (v,u) from each input row in a
    single scan; identical row set, same distinct."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(id_a).alias("u"), F.col(id_b).alias("v")),
                F.struct(F.col(id_b).alias("u"), F.col(id_a).alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v").distinct()


def _with_self_loops(edges: DataFrame) -> DataFrame:
    """(u,v) ∪ (u,u) in ONE pass (r16): the union form read ``edges``
    twice — free on a checkpoint scan, a recomputation of the whole round
    pipeline on the lazily-derived frames inside a star round. No
    distinct: (u,u) is never in edges (rounds filter u != v) and
    duplicates can't change a min (r8)."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u"), F.col("v")),
                F.struct(F.col("u"), F.col("u").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")


def _closed_nbhd_min() -> Column:
    """min(v) over u's closed neighborhood, attached to every row by a
    window partitioned by u: one exchange and one sort per round, and the
    input is read once. Every u has a group (the caller's frame contains
    (u,u)), so no rows appear or vanish.

    The tradeoff is hub skew. A hub's whole closed neighbourhood lands in
    one window partition, and a window has no map-side partial min, so a
    node with millions of neighbours is one task's work in every round
    it stays a hub."""
    from pyspark.sql import Window

    return F.min("v").over(Window.partitionBy("u"))


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): for every node u, connect each strictly larger
    neighbor to the minimum of u's closed neighborhood. Halves long tails
    geometrically — O(log n) rounds to a star forest."""
    with_self = _with_self_loops(edges)
    # v > u keeps exactly the original edge rows the r9 join emitted (the
    # injected self-loops fail the strict inequality)
    return (
        with_self.withColumn("m", _closed_nbhd_min())
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient edges toward the smaller endpoint,
    then connect every smaller-or-equal neighbor of u (and u itself) to
    the minimum of that closed in-neighborhood."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    with_self = _with_self_loops(directed)
    return (
        with_self.withColumn("m", _closed_nbhd_min())
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(pairs: DataFrame, max_rounds: int = 10) -> DataFrame:
    """(id, component) for every node in the pair graph; component = min
    id reachable — the canonical keeper for a near-dup cluster.

    Alternating large-star/small-star rounds (Kiveris et al.) converge
    in O(log n) rounds regardless of graph diameter, where min-label
    propagation needs diameter rounds (wrong for adversarial chains).
    Exhausting ``max_rounds`` raises instead of returning unconverged
    labels. Verified against known components on chains, clusters, and
    random graphs.

    Convergence check (r9): a DIRECT star-forest test instead of the r7
    edge-multiset fingerprint — the fingerprint could only detect the
    fixed point by running one extra full round (≈6 shuffles) and
    seeing nothing change, so every converged call paid a whole wasted
    round. The edge set is a star forest exactly when every down-edge's
    target is a root (no down-edge of its own) — one semi-join +
    limit(1) probe per round, checked BEFORE the round runs. Rounds
    preserve connected components (the Kiveris invariant), so at the
    star-forest point each star IS a full component centered at its
    minimum, which is precisely the answer the roots aggregate reads
    off. Measured at sf0.1: 2 rounds + 3 fingerprints → 1 round + 2
    probes on the near-dup graph."""
    # The when(isNotNull) wrappers are load-bearing: Catalyst's Union
    # constraint rewrite crashes ("key not found: u#N") when optimizing
    # the SECOND round's nested star unions over NON-NULLABLE id
    # columns — exactly what a parquet scan or spark.range feeds in
    # (r10, reproduced on any >=2-round graph; nullable createDataFrame
    # fixtures masked it). The wrapper is a value no-op that marks the
    # schema nullable, and the checkpointed LogicalRDD carries that
    # nullability into every round — avoiding the bug without touching
    # the session-global constraintPropagation conf (a toggle would
    # race concurrent queries on the same session).
    # r16: explode-based _symmetrize reads `pairs` once, so the slim
    # pre-checkpoint is gone; the edge checkpoint itself is LAZY and the
    # star-forest probe below is its materializing action (the probe's
    # pre-shuffle aggregate scans every edge partition, so the checkpoint
    # is fully populated within the probe's own job) — 2 fewer jobs per
    # call, and 1 more per round (VERDICT r15 #6).
    slim = pairs.select(
        F.when(F.col("id_a").isNotNull(), F.col("id_a")).alias("u"),
        F.when(F.col("id_b").isNotNull(), F.col("id_b")).alias("v"),
    )
    edges = _symmetrize(slim, "u", "v").localCheckpoint(eager=False)
    nodes = edges.select(F.col("u").alias("id")).distinct()

    def is_star_forest(e: DataFrame) -> bool:
        # e is the symmetrized DISTINCT edge set: filter(u > v) picks
        # each undirected edge once, oriented down. MIN-CENTERED star
        # forest (the shape the roots read-off below assumes) ⟺
        #   (a) no down-edge target has a down-edge of its own, AND
        #   (b) every down-edge source has exactly ONE down-edge.
        # (a) alone is NOT sufficient (ADVICE r9, verified live): a
        # max-centered star like pairs (1,5),(2,5) has down-edges
        # (5,1),(5,2) whose targets are roots — (a) passes — but node 2
        # then reads component 2 instead of 1; likewise the shared-leaf
        # path c1–u–c2 (c1<c2<u) passes (a) yet c2 reads itself. Both
        # shapes violate (b): their one non-root node sources ≥2
        # down-edges, whereas in a min-centered star every leaf points
        # down only at its center.
        # ONE map-combined aggregate checks both classes — cheaper than
        # the r9 semi-join probe (one exchange, no join): per node count
        # down-edges sourced (s) and received (t); (b) fails on s > 1,
        # (a) fails on a node that both receives and sources (s>=1 AND
        # t>=1 — its in-edge's source chains through it). down is a
        # cheap filter over the checkpointed edge RDD, read twice
        # map-side within the same job.
        down = e.filter(F.col("u") > F.col("v"))
        marks = down.select(
            F.col("u").alias("n"), F.lit(1).alias("s"), F.lit(0).alias("t")
        ).union(
            down.select(
                F.col("v").alias("n"), F.lit(0).alias("s"), F.lit(1).alias("t")
            )
        )
        bad = (
            marks.groupBy("n")
            .agg(F.sum("s").alias("s"), F.sum("t").alias("t"))
            .filter(
                (F.col("s") > 1) | ((F.col("s") >= 1) & (F.col("t") >= 1))
            )
        )
        return bad.limit(1).count() == 0

    rounds_left = max_rounds
    # each probe is ALSO the materializing action of the lazy checkpoint
    # it reads (see above) — one action per round instead of
    # checkpoint-job + probe-job
    while not is_star_forest(edges):
        if rounds_left == 0:
            # r10 review: reading components off a NON-converged edge set
            # silently assigns min-NEIGHBOR instead of component min and
            # dedup_keep_first keeps/drops the wrong rows. Exhausting
            # max_rounds must be loud.
            raise ValueError(
                f"connected_components_star did not converge within "
                f"{max_rounds} alternating rounds — raise max_rounds "
                f"(O(log n) rounds suffice; 25 covers n ~ 10^7)"
            )
        rounds_left -= 1
        edges = _symmetrize(
            _small_star(_large_star(edges)), "u", "v"
        ).localCheckpoint(eager=False)
    # at the fixed point every edge points each node at its component min
    roots = edges.groupBy("u").agg(F.min("v").alias("m"))
    return nodes.join(roots, nodes.id == roots.u, "left").select(
        "id",
        F.least(F.coalesce(F.col("m"), F.col("id")), F.col("id")).alias(
            "component"
        ),
    )


def dedup_keep_first(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """The dedup ACTION: drop every row whose id belongs to a near-dup
    component but is not that component's min-id keeper. Rows never seen in
    ``pairs`` are untouched. One broadcast-friendly anti join against the
    (small) loser set — the corpus itself never shuffles. Components come
    from :func:`connected_components_star` (at most 12 rounds),
    O(log n) rounds independent of graph diameter.
    """
    comps = connected_components_star(pairs, max_rounds=12)
    losers = comps.filter(F.col("id") != F.col("component")).select("id")
    return df.join(
        losers, df[id_col] == losers.id, "left_anti"
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold, exact-cosine verified.

    Default path (``n_planes>0``) is hyperplane-LSH bucketing — the scale
    path: each vector gets ``n_tables`` independent ``n_planes``-bit
    sign-pattern signatures; only pairs colliding in ≥1 table are compared
    (OR-construction boosts recall: p_collide = 1-(1-p^1)^T where
    p = (1-θ/π)^n_planes). The shuffle key is (table, signature) and the
    work is Σ bucket² instead of n² — one boilerplate-free 100 TB knob:
    more planes → smaller buckets, more tables → higher recall. Every
    candidate is verified with EXACT cosine, so output ⊆ the exact
    all-pairs result (tests measure recall; false positives are
    impossible).

    ``n_planes=0`` → exact all-pairs self-join: O(n²) shuffle, a
    small-n (≲10⁵ vectors) fallback only.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if n_planes > 0:
        # r15 optimization, two guide moves:
        #
        # 1. (guide §4.1) All n_tables × n_planes hyperplane projections
        #    are ONE aggregate over the posexploded vector — each
        #    (id, dim, x) row updates every projection lane with a
        #    codegen'd xxhash64-derived weight, replacing the previous
        #    per-table sign-of-projection folds (interpreted
        #    zip_with/aggregate lambdas: n_tables·n_planes·dim
        #    interpreted steps per ROW — the dominant CPU of this
        #    operator). Projection values are bit-identical: same
        #    per-term arithmetic, summed in the same dimension order
        #    (one doc's exploded rows are partition-contiguous, so the
        #    partial aggregate accumulates in posexplode order), and the
        #    fold's 0.0 seed differs only on a ±0.0 sign that the
        #    ``>= 0`` bit test cannot observe. Two caveats (ADVICE r15):
        #    if the hash aggregate spills to its sort-based fallback
        #    under memory pressure, double-sum order can change and a
        #    near-zero projection may flip sign — the CANDIDATE set can
        #    drift on borderline-recall pairs, but never the output
        #    beyond recall (the exact-cosine verify bounds it). And a
        #    vector containing NULL elements now gets a real signature
        #    (F.sum skips nulls) where the fold null-poisoned it to a
        #    constant — its candidates differ, but its pairs still die
        #    in the verify (dot_product's fold null-poisons the cosine),
        #    so emitted OUTPUT is identical. Null/empty vectors emit no
        #    rows at all (the old path gave them constant signatures
        #    whose candidate pairs the exact verify dropped via NULL
        #    cosine — output identical either way).
        # 2. (guide §8 "decide with small rows, move big rows once")
        #    the banding self-join shuffles only (tbl, sig, id) — the
        #    vectors no longer ride the candidate shuffle; they re-attach
        #    by id AFTER dedup, with per-side norms staged so the exact
        #    verify pays one dot-product fold per candidate pair.
        nt = max(1, n_tables)
        x = F.col("__x").cast("double")
        lanes = [
            F.sum(
                x
                * (
                    (
                        F.xxhash64(F.lit(42 + t), F.lit(p), F.col("__i"))
                        % F.lit(1_000_003)
                    ).cast("double")
                    / F.lit(1_000_003.0)
                )
            ).alias(f"__s_{t}_{p}")
            for t in range(nt)
            for p in range(n_planes)
        ]
        projs = base.select(
            "id", F.posexplode("vec").alias("__i", "__x")
        ).groupBy("id").agg(*lanes)
        sigs = [
            F.concat(
                *[
                    F.when(F.col(f"__s_{t}_{p}") >= 0, F.lit("1")).otherwise(
                        F.lit("0")
                    )
                    for p in range(n_planes)
                ]
            )
            for t in range(nt)
        ]
        tables = F.array(
            *[
                F.struct(F.lit(t).alias("tbl"), sigs[t].alias("sig"))
                for t in range(nt)
            ]
        )
        banded = projs.select("id", F.explode(tables).alias("ts")).select(
            "id", F.col("ts.tbl").alias("tbl"), F.col("ts.sig").alias("sig")
        )
        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(
                b,
                on=(F.col("a.tbl") == F.col("b.tbl"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        va = base.select(
            F.col("id").alias("id_a"),
            F.col("vec").alias("vec_a"),
            l2_norm("vec").alias("__na"),
        )
        vb = base.select(
            F.col("id").alias("id_b"),
            F.col("vec").alias("vec_b"),
            l2_norm("vec").alias("__nb"),
        )
        denom = F.col("__na") * F.col("__nb")
        sim = F.when(
            denom > 0, dot_product(F.col("vec_a"), F.col("vec_b")) / denom
        )
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .select("id_a", "id_b", sim.alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )
    a, b = base.alias("a"), base.alias("b")
    sim = cosine_similarity(F.col("a.vec"), F.col("b.vec"))
    return (
        a.join(b, on=F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            sim.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _setsim_candidates(
    df: DataFrame,
    threshold: float,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """PartEnum-style pigeonhole candidate stage (Arasu/Ganti/Kaushik,
    VLDB'06), exposed for the skew/scale bound asserts: returns
    (with_toks, candidate_pairs).

    Why not AllPairs prefix filtering: the r9 ×100 probe measured 9.7M
    candidates from 5,000 docs (avg 23 distinct tokens) at t=0.95 — in
    a low-diversity corpus even the per-doc "rarest" tokens carry
    hundreds-deep postings, so prefix-token postings go quadratic and
    the verify join spilled ~200 GB at ×100. The pigeonhole signature
    is the high-threshold fix:

    Jaccard(a, b) >= t  ⟹  |aΔb| <= (1-t)/t · min(|a|,|b|). Partition
    the TOKEN UNIVERSE into ℓ = e+1 hash classes (e the symmetric-
    difference budget): the <= e differing tokens occupy <= e classes,
    so at least one class's token content is IDENTICAL on both sides —
    join on (ℓ, class, hash(class content)) instead of single tokens.
    A candidate now requires an exact match of ~|s|/ℓ tokens, not one
    shared token: postings collapse to true near-duplicate groups.

    Each doc emits signatures for every ℓ a qualifying partner could
    require: ℓ(m) = floor(m·(1-t)/t)+1 for all plausible smaller-side
    sizes m ∈ [ceil(t·n), n] (a qualifying pair's smaller side has
    m >= t·n, and the pair's budget is e(min) — monotone in m — so both
    sides emit that ℓ). At t=0.95 this is 1-2 ℓ values → ~2 signature
    rows per doc, vs 50M exploded token rows before.

    High-threshold by design (the dedup use case): as t falls toward
    0.5, ℓ grows toward |s| and classes thin out — the prefix-filter
    family wins there. Exactness holds for any t; the constant factor
    is tuned for t >= ~0.8."""
    import math

    t = float(threshold)
    # Rationalize the threshold for EXACT integer floor/ceil: the naive
    # floor(m·(1-t)/t) under fp computed floor(4·0.2/0.8) = floor(
    # 0.9999…) = 0, silently dropping the ℓ=2 signature level and with
    # it real pairs. p/q is t shifted down one millionth so candidates
    # also cover the verify stage's 6dp ROUNDING boundary (round(jac,6)
    # >= t admits true jac down to t − 5e-7); relaxing e upward only
    # adds signatures — recall can't be hurt by it.
    p = max(1, int(round(t * 1_000_000)) - 1)
    q = 1_000_000
    g = math.gcd(p, q)
    p, q = p // g, q // g
    base = spread_for_compute(df).select(
        F.col(id_col).alias("id"),
        F.array_sort(
            F.array_distinct(tokens(F.lower(F.col(text_col))))
        ).alias("toks"),
    )
    with_toks = base.localCheckpoint(eager=True)
    n = F.size("toks")
    # smallest plausible partner size: ceil(p·n/q) = (p·n + q − 1) div q
    lo = F.floor(
        (F.lit(p) * n.cast("bigint") + F.lit(q - 1)) / F.lit(q)
    ).cast("int")
    # ℓ(m) = floor(m·(q−p)/p) + 1, exact (int products < 2^53, and a
    # correctly-rounded double quotient of ints with denominator <= 1e6
    # can't cross an integer boundary)
    ls = F.array_distinct(
        F.transform(
            F.sequence(lo, n),
            lambda m: (
                F.floor((m.cast("bigint") * F.lit(q - p)) / F.lit(p)) + 1
            ).cast("int"),
        )
    )
    # empty docs never pair (matches the verify stage, where a 0-size
    # union nulls the score out anyway)
    sigs = (
        with_toks.where(n > 0)
        .select("id", "toks", F.explode(ls).alias("l"))
        .select(
            "id",
            "toks",
            "l",
            F.explode(F.sequence(F.lit(0), F.col("l") - 1)).alias("part"),
        )
        .select(
            "id",
            "l",
            "part",
            F.xxhash64(
                F.concat_ws(
                    "\x00",
                    F.filter(
                        "toks",
                        lambda x: F.pmod(F.xxhash64(x), F.col("l"))
                        == F.col("part"),
                    ),
                ),
                "l",
                "part",
            ).alias("sig"),
        )
    )
    cand = (
        sigs.select(F.col("id").alias("id_a"), "l", "part", "sig")
        .join(
            sigs.select(F.col("id").alias("id_b"), "l", "part", "sig"),
            ["l", "part", "sig"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return with_toks, cand


def set_similarity_join(df: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Exact token-SET Jaccard self-join via pigeonhole signatures
    (PartEnum, Arasu/Ganti/Kaushik VLDB'06 — see
    :func:`_setsim_candidates` for why this replaced the r7 AllPairs
    prefix filter: prefix-token postings went quadratic on
    low-diversity corpora, 9.7M candidates from 5k docs) — the third
    pillar of the near-dup family next to the inverted shingle index
    (ngram_jaccard_pairs, exact but postings-bounded) and MinHash LSH
    (probabilistic).

    Jaccard >= t bounds the symmetric difference by e = floor(
    (1-t)/t · min(|a|,|b|)); hashing the token universe into e+1
    classes forces at least one class to match EXACTLY, so candidates
    join on (ℓ, class, class-content hash) — an exact multi-token
    match, not one shared token. Requires no global token statistics
    at all (the df-counting shuffle of the AllPairs design is gone).

    Plan: tokenize -> per-doc sorted distinct token array (checkpointed
    once) -> ~2 signature rows per doc -> self-join on signature
    (id_a < id_b, distinct) -> verify exact Jaccard on the full sorted
    arrays (array_intersect/array_union, JVM).
    Output: (id_a, id_b, jaccard) rounded to 6dp, jaccard >= threshold.
    """
    with_prefix, cand = _setsim_candidates(df, threshold, "doc_id", "text")
    a = with_prefix.select(F.col("id").alias("id_a"), F.col("toks").alias("ta"))
    b = with_prefix.select(F.col("id").alias("id_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b", F.round(jac, 6).alias("jaccard")
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
    hash_grams: bool = True,
) -> DataFrame:
    """The ACTION to :func:`duplicate_span_coverage`'s measurement:
    remove every token covered by a cross-document repeated n-gram and
    return the cleaned text — Lee et al.'s ExactSubstr deduplication
    (arXiv 2107.06499) at n-gram granularity: boilerplate disappears
    from every document that carries it, the surrounding prose stays.

    Plan: positional grams explode once; the duplicated-gram set (one
    agg shuffle) semi-join-flags each doc's span START positions, which
    aggregate into one bounded per-doc sorted array; the final rewrite
    is a NARROW map — token index t is covered iff some flagged start
    s satisfies s <= t < s+n (an O(|starts|) F.exists per token, both
    arrays bounded by document length). The corpus text shuffles only
    as the per-doc starts array, never gram-exploded.

    Output: (id, n_tokens, n_removed, cleaned_text). Documents shorter
    than ``n`` tokens form one whole-text gram, so a short doc repeated
    verbatim empties itself (consistent with the detector).

    ``hash_grams=True`` (default — the gram text never reaches the
    output): the duplicated-gram aggregate and the start-flag semi-join
    key on ``xxhash64(gram)`` longs instead of n-word strings, the same
    8-byte-key trade as :func:`duplicate_ngram_spans`; a collision
    (~|grams|²/2⁶⁵) could at worst over-strip one span.
    """
    from etl_excel_csv_sql_spark.functions.text import (
        positional_word_ngrams,
        tokens,
    )

    gram_arr = positional_word_ngrams(text_col, n)
    if hash_grams:
        gram_arr = F.transform(gram_arr, lambda g: F.xxhash64(g))
    # Checkpointed: the duplicated-gram aggregate AND the start-flag
    # semi-join both read this explode — un-materialized, the positional
    # gram fold would run twice over the corpus (hash_grams keeps the
    # materialized rows at (id, pos, long)).
    grams = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(gram_arr).alias("pos", "gram"),
    ).localCheckpoint(eager=True)
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    starts = (
        grams.join(dup, "gram", "left_semi")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("ss"))
    )
    # Null text → empty token array (size(null) is null in Spark 3+, which
    # would null out n_tokens and the sequence guard below).
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    joined = df.select(F.col(id_col).alias("id"), toks.alias("toks")).join(
        starts, "id", "left"
    ).withColumn("ss", F.coalesce("ss", F.array().cast("array<int>")))
    # Guard the empty-doc case: sequence(0, -1) defaults its step to -1
    # when start > stop, yielding the DESCENDING [0, -1] whose -1 entry
    # feeds element_at(toks, 0) → INVALID_INDEX_OF_ZERO; one blank doc
    # would kill the whole job.
    idx = F.when(
        F.size("toks") > 0, F.sequence(F.lit(0), F.size("toks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    covered = lambda t: F.exists(  # noqa: E731
        F.col("ss"), lambda s: (s <= t) & (t < s + n)
    )
    keep = F.filter(idx, lambda t: ~covered(t))
    return joined.select(
        "id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size("toks") - F.size(keep)).cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform(keep, lambda t: F.element_at("toks", t + 1)), " "
        ).alias("cleaned_text"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Paragraph-level exact dedup — the CCNet preprocessing step
    (Wenzek et al., arXiv 1911.00359): drop every paragraph whose
    normalized hash appears in >= ``min_docs`` DISTINCT documents
    (cookie banners, nav bars, legal footers — the boilerplate that
    survives per-DOCUMENT dedup because each page is unique around it).

    Plan shape, 100 TB-safe: paragraphs explode with their position,
    hash on the normalized form (lower + whitespace-collapse; an
    8-byte xxhash64 is all that shuffles), one distinct-doc count per
    hash, common hashes anti-join the exploded frame, and each doc
    reassembles from its SURVIVING paragraphs in original order via
    one grouped sort. Original paragraph text is preserved —
    normalization is a hash key, not a rewrite.

    Output: (id, text, n_paras_kept, n_paras_dropped); a doc whose
    every paragraph was boilerplate keeps an empty text (the quality
    filter downstream drops it, which is the point), and a NULL-text
    doc survives as (id, '', 0, 0) — every input id appears exactly
    once in the output.
    """
    paras = (
        spread_for_compute(df)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "pos", "para"
            ),
        )
        .withColumn(
            "fp",
            F.xxhash64(
                F.trim(
                    F.regexp_replace(F.lower(F.col("para")), r"\s+", " ")
                )
            ),
        )
    )
    common = (
        paras.groupBy("fp")
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("fp")
    )
    kept = paras.join(common, "fp", "left_anti")
    rebuilt = (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "para"))
                    ),
                    lambda s: s["para"],
                ),
                "\n",
            ).alias("text"),
            F.count(F.lit(1)).alias("n_paras_kept"),
        )
    )
    totals = paras.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n_total")
    )
    # Anchor the output on the INPUT ids, not on the exploded frame: a
    # NULL text splits/posexplodes to zero rows, so a null-text doc had
    # no row in `paras`/`totals` and silently vanished from the output
    # (ADVICE r13) while the contract promises every doc survives.
    # Null-text docs emit (id, '', 0, 0). Both joins key on id — the
    # same shuffle partitioning, so AQE coalesces them into one
    # exchange chain.
    ids = df.select(F.col(id_col).alias("id")).distinct()
    return (
        ids.join(totals, "id", "left")
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_paras_kept", F.lit(0))
            .cast("int")
            .alias("n_paras_kept"),
            (
                F.coalesce("__n_total", F.lit(0))
                - F.coalesce("n_paras_kept", F.lit(0))
            )
            .cast("int")
            .alias("n_paras_dropped"),
        )
    )
