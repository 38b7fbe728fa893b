"""Record linkage: blocked fuzzy matching (entity resolution).

The classic data-cleaning join the reference family of ETL scripts
eventually needs (matching free-text names across systems; the reference
matches Excel sheet names only by trimmed case-insensitive equality,
ExcelDataImportToSQL.ps1 — this is the approximate generalization).

Scale design — the standard three-stage entity-resolution funnel, each
stage shrinking the candidate space before the expensive comparator:

1. **Canonicalize exact duplicates** (one groupBy on the normalized
   string): at corpus scale most strings repeat; comparing distinct
   strings instead of rows turns an O(rows²) problem into O(distinct²)
   and the cluster assignment back to rows is a cheap hash join.
2. **Blocking**: candidate pairs are generated ONLY within a block key
   (a cheap deterministic function of the string — last token, prefix,
   phonetic code, length band). The self-join shuffles on the block key,
   so cost is Σ|block|², never n². Skewed mega-blocks are the known
   failure mode: ``max_block`` drops blocks above a size cap (counted
   in-plan, no driver action) the same way ngram-Jaccard drops
   stop-shingles via max_df (operators/dedup.py).
3. **Comparator**: Levenshtein edit distance (JVM built-in, codegen'd —
   no Python) with a threshold, plus a normalized similarity. Pairs are
   emitted once (id_a < id_b).

Multi-pass blocking (union of pairs from several block functions,
distinct) raises recall when one key misses matches; compose by calling
``fuzzy_self_pairs`` per key and unioning — each pass stays Σ|block|².
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def canonicalize_exact(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Collapse exact duplicates of ``text_col``: one row per distinct
    string with the min id as representative and the member count."""
    return df.groupBy(F.col(text_col).alias("text")).agg(
        F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_members")
    )


def _blocked_candidate_pairs(
    distinct_df: DataFrame,
    block: Column,
    max_block: int | None,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared blocked self-join candidate generator for every pairwise
    string scorer (Levenshtein fuzzy_self_pairs, Jaro–Winkler
    jaro_winkler_pairs — ONE copy of the checkpoint + skew-guard +
    ordered self-join plan, so a fix to either lands in both).

    Returns (id_a, id_b, text_a, text_b) with id_a < id_b within blocks
    of equal ``block`` value; blocks larger than ``max_block`` drop
    IN-PLAN (the skew cap that keeps Σ|block|² bounded on adversarial
    data — never collected)."""
    # checkpoint the distinct-string frame: the self-join consumes it on
    # both sides (plus the block-size guard), and Catalyst would otherwise
    # recompute the upstream canonicalization groupBy per consumer
    sides = distinct_df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t"), block.alias("blk")
    ).localCheckpoint(eager=True)
    if max_block is not None:
        sizes = sides.groupBy("blk").agg(F.count(F.lit(1)).alias("__bn"))
        sides = (
            sides.join(sizes.where(F.col("__bn") <= max_block), "blk", "left_semi")
        )
    a = sides.select(
        F.col("blk"), F.col("id").alias("id_a"), F.col("t").alias("text_a")
    )
    b = sides.select(
        F.col("blk"), F.col("id").alias("id_b"), F.col("t").alias("text_b")
    )
    return (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "text_a", "text_b")
    )


def fuzzy_self_pairs(
    distinct_df: DataFrame,
    block: Column,
    max_dist: int = 2,
    max_block: int | None = None,
) -> DataFrame:
    """Blocked approximate-duplicate pairs among distinct strings.

    ``distinct_df`` is the output of :func:`canonicalize_exact` (or any
    frame with a unique ``rep_id`` per distinct ``text``). Returns
    (id_a, id_b, text_a, text_b, dist, similarity) with id_a < id_b,
    dist <= max_dist, similarity = 1 - dist/max(len_a, len_b).
    """
    dist = F.levenshtein("text_a", "text_b")
    return (
        _blocked_candidate_pairs(distinct_df, block, max_block, "text", "rep_id")
        .where(dist <= F.lit(max_dist))
        .select(
            "id_a",
            "id_b",
            "text_a",
            "text_b",
            dist.alias("dist"),
            F.round(
                1.0
                - dist.cast("double")
                / F.greatest(
                    F.length("text_a"), F.length("text_b"), F.lit(1)
                ),
                6,
            ).alias("similarity"),
        )
    )


def last_token_block(text_col: str = "text") -> Column:
    """Block on the final whitespace token (the head noun in noun-phrase
    names) — cheap, language-light, and stable under adjective edits."""
    return F.element_at(F.split(F.col(text_col), " "), -1)


def prefix_length_block() -> Column:
    """Block on (first char, length band) — the complementary pass that
    catches suffix edits last-token blocking misses."""
    return F.concat_ws(
        "|",
        F.substring(F.col("text"), 1, 1),
        (F.length("text") / F.lit(4)).cast("int").cast("string"),
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    block,
    max_dist: int = 2,
    max_block: int | None = None,
    left_id: str = "id",
    left_text: str = "text",
    right_id: str = "rep_id",
    right_text: str = "text",
    best_only: bool = False,
) -> DataFrame:
    """Blocked approximate join BETWEEN two tables — the lookup-
    enrichment half of entity resolution (dirty feed names matched to a
    canonical dimension), complementing :func:`fuzzy_self_pairs`'
    within-table dedup.

    Same funnel economics: candidates only within a block (shuffle on
    the block key, cost Σ|block_l|·|block_r| never |L|·|R|; when the
    canonical side is dimension-sized Catalyst broadcasts it and the
    probe side never shuffles), ``max_block`` drops degenerate RIGHT
    blocks in-plan, JVM levenshtein comparator with threshold.

    ``best_only`` keeps one row per left record — min (dist, right_id)
    — via a grouped min-struct aggregate (bounded two-phase agg with a
    map-side partial, NOT a row_number window: no per-key sort state,
    no unbounded partition).

    Output: (left_id, right_id, left_text, right_text, dist,
    similarity), one row per candidate pair (or per left record with
    ``best_only``).
    """
    lt = left.select(
        F.col(left_id).alias("__lid"),
        F.col(left_text).alias("__ltext"),
        block_for(block, left_text).alias("blk"),
    )
    rt = right.select(
        F.col(right_id).alias("__rid"),
        F.col(right_text).alias("__rtext"),
        block_for(block, right_text).alias("blk"),
    )
    if max_block is not None:
        sizes = rt.groupBy("blk").agg(F.count(F.lit(1)).alias("__bn"))
        rt = rt.join(sizes.where(F.col("__bn") <= max_block), "blk", "left_semi")
    dist = F.levenshtein("__ltext", "__rtext")
    pairs = (
        lt.join(rt, "blk")
        .where(dist <= F.lit(max_dist))
        .select(
            F.col("__lid").alias("left_id"),
            F.col("__rid").alias("right_id"),
            F.col("__ltext").alias("left_text"),
            F.col("__rtext").alias("right_text"),
            dist.alias("dist"),
            # greatest(..., 1) guards the empty-vs-empty pair: dist=0
            # passes the threshold but 0/0 would make similarity NULL
            # (identical empties are similarity 1.0 by the contract)
            F.round(
                1.0
                - dist.cast("double")
                / F.greatest(
                    F.length("__ltext"), F.length("__rtext"), F.lit(1)
                ),
                6,
            ).alias("similarity"),
        )
    )
    if not best_only:
        return pairs
    best = pairs.groupBy("left_id").agg(
        F.min(
            F.struct(
                F.col("dist").alias("dist"),
                F.col("right_id").alias("right_id"),
                F.col("left_text").alias("left_text"),
                F.col("right_text").alias("right_text"),
                F.col("similarity").alias("similarity"),
            )
        ).alias("m")
    )
    return best.select(
        "left_id",
        F.col("m.right_id").alias("right_id"),
        F.col("m.left_text").alias("left_text"),
        F.col("m.right_text").alias("right_text"),
        F.col("m.dist").alias("dist"),
        F.col("m.similarity").alias("similarity"),
    )


def block_for(block, text_col: str) -> Column:
    """Re-anchor a block builder onto ``text_col``. A Column closes over
    one column NAME, but between two tables the text columns can differ
    — so ``fuzzy_join`` takes the BUILDER (a callable text_col→Column,
    e.g. :func:`last_token_block`) and re-derives it per side."""
    if callable(block):
        return block(text_col)
    return block


def _jaro_winkler_py(s1: str, s2: str) -> float:
    """Jaro–Winkler similarity (Winkler 1990), standard parameters:
    match window max(|a|,|b|)//2 - 1, transpositions halved, prefix
    bonus up to 4 chars at 0.1 scaling applied only when jaro > 0.7.
    Empty-vs-anything (including empty-vs-empty) is 0.0 — bit-equal to
    DuckDB's jaro_winkler_similarity (fuzz-verified over 5k random
    pairs in tests), which is what makes the oracle exact."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(max(l1, l2) // 2 - 1, 0)
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = i - window if i > window else 0
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    sim = (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0
    if sim > 0.7:
        plen = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            plen += 1
        sim += plen * 0.1 * (1.0 - sim)
    return sim


def _jaro_winkler_np(sa: list, sb: list):
    """Vectorized Jaro–Winkler over a BATCH of string pairs (VERDICT r7
    #4) — same algorithm and parameters as :func:`_jaro_winkler_py`
    (bit-parity fuzz-tested), but the greedy match loop runs once per
    CHARACTER POSITION over the whole batch as NumPy boolean-matrix ops
    instead of once per pair in Python. O(L1·L2) bitmap work per pair,
    the same asymptotics as the scalar loop, with ~2 orders of
    magnitude less interpreter overhead on short linkage strings.

    Encoding trick: a NumPy ``U``-dtype array is UCS-4, so viewing it
    as uint32 yields a zero-padded (n, maxlen) codepoint matrix with no
    per-string Python loop. NUL codepoints in real text would collide
    with the padding, so those rare rows fall back to the scalar path.

    Returns a float64 array; None/NaN inputs must be filtered by the
    caller (the mapInPandas wrapper).
    """
    import numpy as np

    n = len(sa)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    l1 = np.fromiter((len(s) for s in sa), dtype=np.int64, count=n)
    l2 = np.fromiter((len(s) for s in sb), dtype=np.int64, count=n)
    live = (l1 > 0) & (l2 > 0)
    if not live.any():
        return out
    L1 = int(l1.max())
    L2 = int(l2.max())
    A = np.array(sa, dtype=f"U{L1}").view(np.uint32).reshape(n, L1)
    B = np.array(sb, dtype=f"U{L2}").view(np.uint32).reshape(n, L2)
    # NUL inside a live string == padding value → scalar fallback rows
    nul = ((A == 0) & (np.arange(L1)[None, :] < l1[:, None])).any(axis=1) | (
        (B == 0) & (np.arange(L2)[None, :] < l2[:, None])
    ).any(axis=1)
    for r in np.nonzero(nul & live)[0]:
        out[r] = _jaro_winkler_py(sa[r], sb[r])
    live &= ~nul

    window = np.maximum(np.maximum(l1, l2) // 2 - 1, 0)
    m1 = np.zeros((n, L1), dtype=bool)
    matches = np.zeros(n, dtype=np.int64)
    if L2 <= 63:
        # Bit-parallel greedy matching (the Hyyrö/Myers trick): s2's
        # positions live in ONE uint64 word per (pair, char), so each
        # s1 position costs O(1) word ops per pair — an O(L2)-factor
        # win over the boolean-matrix formulation, which is what makes
        # this kernel actually beat the scalar loop (r8, measured:
        # the matrix variant only broke even on 30-50 char strings).
        u1 = np.uint64(1)
        # M[row, i] = bitset of s2 positions whose char equals s1[i] —
        # built in L2 passes of one (n, L1) comparison each; no vocab
        # (np.unique's sort cost dominated the first cut of this kernel)
        M = np.zeros((n, L1), dtype=np.uint64)
        bits = u1 << np.arange(L2, dtype=np.uint64)
        for j in range(L2):
            eq = (A == B[:, j][:, None]) & (j < l2)[:, None]
            np.bitwise_or(M, bits[j], out=M, where=eq)
        used = np.zeros(n, dtype=np.uint64)
        lo_base = -window
        hi_base = window + 1
        for i in range(L1):
            active = live & (i < l1)
            if not active.any():
                break
            hi = np.minimum(i + hi_base, l2).astype(np.uint64)
            # clamp lo into [0, hi]: with l1 >= 128 the raw i - window
            # can exceed 63, and a uint64 shift by >= 64 is undefined
            # (zero here, but wraps mod 64 on x86 scalar paths — wmask
            # would reopen low bits). lo == hi yields wmask 0, matching
            # the scalar empty-window semantics.
            lo = np.minimum(np.maximum(i + lo_base, 0).astype(np.uint64), hi)
            wmask = ((u1 << hi) - u1) ^ ((u1 << lo) - u1)
            cand = M[:, i] & wmask & ~used
            cand[~active] = 0
            first = cand & (~cand + u1)  # lowest set bit
            used |= first
            hit = cand != 0
            m1[:, i] = hit
            matches += hit
        used2 = ((used[:, None] >> np.arange(L2, dtype=np.uint64)[None, :]) & u1).astype(bool)
    else:
        # long-string fallback: windowed boolean-matrix greedy matching
        jidx = np.arange(L2)[None, :]
        in_b = jidx < l2[:, None]
        used2 = np.zeros((n, L2), dtype=bool)
        for i in range(L1):
            active = live & (i < l1)
            if not active.any():
                break
            ci = A[:, i]
            valid = (
                (jidx >= (i - window)[:, None])
                & (jidx < (i + window + 1)[:, None])
                & in_b
                & ~used2
                & (B == ci[:, None])
                & active[:, None]
            )
            hit = valid.any(axis=1)
            j = valid.argmax(axis=1)
            rows = np.nonzero(hit)[0]
            used2[rows, j[rows]] = True
            m1[rows, i] = True
            matches[rows] += 1

    ok = live & (matches > 0)
    if ok.any():
        # transpositions: matched chars of each side in position order,
        # scattered into dense (n, maxM) matrices, then counted mismatches
        maxm = int(matches.max())
        g1 = np.zeros((n, maxm), dtype=np.uint32)
        g2 = np.zeros((n, maxm), dtype=np.uint32)
        r1, c1 = np.nonzero(m1)
        ord1 = np.cumsum(m1, axis=1) - 1
        g1[r1, ord1[r1, c1]] = A[r1, c1]
        r2, c2 = np.nonzero(used2)
        ord2 = np.cumsum(used2, axis=1) - 1
        g2[r2, ord2[r2, c2]] = B[r2, c2]
        mcols = np.arange(maxm)[None, :] < matches[:, None]
        t = ((g1 != g2) & mcols).sum(axis=1) // 2
        with np.errstate(divide="ignore", invalid="ignore"):
            m = matches.astype(np.float64)
            sim = (m / l1 + m / l2 + (m - t) / np.maximum(m, 1)) / 3.0
        # Winkler prefix bonus: common prefix up to 4 chars, only if > 0.7
        p = min(4, L1, L2)
        if p > 0:
            eq = (A[:, :p] == B[:, :p]) & (
                np.arange(p)[None, :] < np.minimum(l1, l2)[:, None]
            )
            plen = np.cumprod(eq, axis=1).sum(axis=1)
        else:
            plen = np.zeros(n, dtype=np.int64)
        boost = sim > 0.7
        sim = np.where(boost, sim + plen * 0.1 * (1.0 - sim), sim)
        out[ok] = sim[ok]
    return out


def jaro_winkler_pairs(
    distinct_df: DataFrame,
    block: Column,
    threshold: float = 0.94,
    max_block: int | None = 2000,
    text_col: str = "text",
    id_col: str = "rep_id",
) -> DataFrame:
    """Blocked Jaro–Winkler near-duplicate pairs — the edit-model
    complement of :func:`fuzzy_self_pairs`: Levenshtein charges
    character swaps two edits, while JW's transposition term makes it
    the standard scorer for name/short-string linkage (it also
    length-normalizes for free).

    Plan shape is identical to the Levenshtein pass (and shares its
    scale argument): candidate generation is a JVM-side blocked
    self-join with the Σ|block|² skew cap; only surviving CANDIDATE
    PAIRS — already reduced from n² to sum of squared block sizes —
    flow through the Arrow-batched ``mapInPandas`` scorer (JW has no
    Spark built-in; a per-pair Python loop over Arrow batches is the
    sanctioned slow path since the hot path, blocking, stays in
    codegen). Emits (id_a, id_b, text_a, text_b, similarity) with
    similarity >= threshold, id_a < id_b, 6dp.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    # id fields keep the INPUT's id type (string/int/long all valid per
    # the fuzzy_self_pairs contract) — a hardcoded LongType made Arrow
    # conversion crash on any non-bigint id (code-review r9 catch)
    id_type = distinct_df.schema[id_col].dataType

    cands = _blocked_candidate_pairs(
        distinct_df, block, max_block, text_col, id_col
    )
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("text_a", StringType()),
            StructField("text_b", StringType()),
            StructField("similarity", DoubleType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            ok = pdf["text_a"].notna() & pdf["text_b"].notna()
            sims = np.full(len(pdf), np.nan)
            if ok.any():
                sims[ok.to_numpy()] = _jaro_winkler_np(
                    pdf.loc[ok, "text_a"].tolist(),
                    pdf.loc[ok, "text_b"].tolist(),
                ).round(6)
            out = pdf.assign(similarity=sims)
            yield out[out["similarity"] >= threshold]

    return cands.mapInPandas(batches, out_schema)
