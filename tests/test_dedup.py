"""Correctness evidence for the approximate dedup operators: the oracle
can't check hash-dependent candidate sets, so these tests measure them
against exact baselines on corpora with KNOWN near-duplicate structure."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from etl_excel_csv_sql_spark.functions.text import rolling_hash
from etl_excel_csv_sql_spark.operators import dedup

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu"
).split()


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """60 docs in 20 groups of 3: an original (~80 words), a light edit
    (~3 words changed → Jaccard well above 0.5), and an unrelated shuffle.
    Deterministic seed; known ground-truth near-dup pairs."""
    rng = random.Random(7)
    rows = []
    for g in range(20):
        base = [rng.choice(WORDS) for _ in range(80)]
        edited = list(base)
        for _ in range(3):
            edited[rng.randrange(len(edited))] = rng.choice(WORDS)
        unrelated = [rng.choice(WORDS) for _ in range(80)]
        rows.append((g * 3 + 0, " ".join(base)))
        rows.append((g * 3 + 1, " ".join(edited)))
        rows.append((g * 3 + 2, " ".join(unrelated)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _pairs(df) -> set[tuple[int, int]]:
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_minhash_lsh_recall_vs_exact(spark, near_dup_docs):
    exact = _pairs(
        dedup.ngram_jaccard_pairs(near_dup_docs, "doc_id", "text", n=3, threshold=0.5)
    )
    approx = _pairs(
        dedup.minhash_lsh_pairs(
            near_dup_docs, "doc_id", "text",
            num_hashes=32, bands=8, n=3, threshold=0.5,
        )
    )
    # soundness: the exact-Jaccard verify step makes false positives impossible
    assert approx <= exact
    # recall: banding with r=4 catches j>=0.7 pairs with p≈0.95 each; the
    # edited twins sit around j≈0.85-0.95 → expect nearly all of them
    assert len(exact) >= 15  # the corpus actually contains near-dups
    recall = len(approx) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall:.2f} over {len(exact)} pairs"


def _ref_shingle_sets(rows, n=3) -> dict:
    """Python reference shingle sets: whitespace tokens, n-token tuples;
    a doc shorter than n tokens is one whole-doc shingle; null text has
    no set (it can never pair)."""
    sets = {}
    for doc_id, text in rows:
        if text is None:
            continue
        toks = text.split()
        if len(toks) < n:
            sets[doc_id] = {tuple(toks)}
        else:
            sets[doc_id] = {
                tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
            }
    return sets


def _ref_intersections(rows, n=3):
    """(id_a, id_b, |A ∩ B|, |A|, |B|) for every id_a < id_b sharing a
    shingle."""
    sets = _ref_shingle_sets(rows, n)
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter:
                yield a, b, inter, len(sets[a]), len(sets[b])


def _ref_jaccard(rows, n, threshold) -> dict:
    out = {}
    for a, b, inter, sa, sb in _ref_intersections(rows, n):
        jac = inter / (sa + sb - inter)
        if jac >= threshold:
            out[(a, b)] = jac
    return out


def _ref_containment(rows, n, threshold) -> dict:
    out = {}
    for a, b, inter, sa, sb in _ref_intersections(rows, n):
        for src, dst, size in ((a, b, sa), (b, a, sb)):
            if inter / size >= threshold:
                out[(src, dst)] = inter / size
    return out


def test_hashed_shingle_postings_value_parity(spark, near_dup_docs):
    """The hashed posting keys must reproduce exact set semantics — same
    pairs, same Jaccard/containment values as a Python set reference —
    because set sizes and intersection counts are invariant under an
    injective hash."""
    rows = [(r.doc_id, r.text) for r in near_dup_docs.collect()]
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            near_dup_docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    want_jac = _ref_jaccard(rows, 3, 0.5)
    assert want_jac and jac == want_jac
    con = {
        (r.id_src, r.id_dst): r.containment
        for r in dedup.ngram_containment_pairs(
            near_dup_docs, "doc_id", "text", n=3, threshold=0.4
        ).collect()
    }
    want_con = _ref_containment(rows, 3, 0.4)
    # the operator rounds containment to 6 decimals
    assert want_con and con == pytest.approx(want_con, abs=5e-7)


def test_hashed_shingles_null_and_empty_docs(spark):
    """The hashed keys' [null] row for null text never equi-joins
    (xxhash64 of a null array is a CONSTANT — unguarded, every pair of
    null docs would score 1.0), while two EMPTY docs legitimately pair
    (both reduce to the whole-text shingle of zero tokens, matching the
    set reference and the DuckDB oracle's '' shingle)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    rows = [
        (1, None),
        (2, None),
        (3, ""),
        (4, ""),
        (5, "alpha bravo charlie delta echo"),
    ]
    df = spark.createDataFrame(rows, schema)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert got == _ref_jaccard(rows, 3, 0.5) == {(3, 4): 1.0}


def test_simhash_finds_light_edits(spark):
    """SimHash radius vs edit size: a 1-word edit in an 80-word doc flips
    ~3/78 shingles → expected Hamming ≈ 64·acos(0.96)/π ≈ 6, so radius 7
    (8 blocks) catches most twins while random doc pairs sit near
    Hamming 32 and can never collide."""
    rng = random.Random(13)
    rows = []
    for g in range(20):
        base = [rng.choice(WORDS) for _ in range(80)]
        edited = list(base)
        edited[rng.randrange(len(edited))] = rng.choice(WORDS)
        unrelated = [rng.choice(WORDS) for _ in range(80)]
        rows.append((g * 3 + 0, " ".join(base)))
        rows.append((g * 3 + 1, " ".join(edited)))
        rows.append((g * 3 + 2, " ".join(unrelated)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = dedup.simhash_pairs(docs, "doc_id", "text", n=3, max_hamming=7)
    pairs = _pairs(got.select("id_a", "id_b"))
    twins = {(3 * g, 3 * g + 1) for g in range(20)}
    found_twins = pairs & twins
    assert len(found_twins) >= 12, f"only {len(found_twins)} twins found"
    unrelated = {p for p in pairs if p[1] % 3 == 2 or p[0] % 3 == 2}
    assert len(unrelated) <= 2  # random 80-word docs shouldn't collide


def test_synth_shingle_docs_fixture_contract(spark):
    """The simhash_pairs oracle's safety pin (r12): over the REAL sf
    id sets, (a) every whitespace twin is at SimHash Hamming EXACTLY 0
    (token arrays identical after trim/split), and (b) every non-twin
    pair sits far outside the query's Hamming-3 ball — so the full
    query output is exactly the oracle's one-pair-per-doc enumeration.
    Recomputes ALL pairwise distances in numpy (no banding shortcut:
    the pin must be independent of the candidate generator)."""
    import numpy as np

    from etl_excel_csv_sql_spark.catalog import load_table

    def popcount(x):
        x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
        x = (x & np.uint64(0x3333333333333333)) + (
            (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
        )
        x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)

    # sf0.001 and sf0.01 share the 0..499 id set (the driver-gate
    # scales); sf0.1's 0..4999 superset is pinned in the slow lane by
    # the bench itself (same generator, deterministic).
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id"
    )
    corpus = dedup.synth_shingle_docs(docs).unionByName(
        dedup.synth_shingle_docs(docs, id_offset=1_000_000, twin=True)
    )
    sh = dedup.simhash_frame(corpus, "doc_id", "text", 3, 42).collect()
    m = {r["id"]: np.uint64(np.int64(r["simhash"])) for r in sh}
    originals = sorted(i for i in m if i < 1_000_000)
    assert len(originals) == 500
    for i in originals:
        assert m[i] == m[i + 1_000_000], f"twin {i} not Hamming 0"
    h = np.array([m[i] for i in originals], dtype=np.uint64)
    d = popcount(h[:, None] ^ h[None, :])
    iu = np.triu_indices(len(h), 1)
    min_nontwin = int(d[iu].min())
    # 11 observed at sf0.1, 12 at sf0.001/sf0.01 — assert the ball + a
    # safety margin so a generator regression fails loudly before the
    # driver gate does
    assert min_nontwin >= 8, min_nontwin


def test_minhash_fixture_contract_full_output(spark):
    """The minhash_lsh_pairs oracle's safety pin (r12): over the REAL
    sf0.001/sf0.01 id set, (a) every non-twin pair's EXACT Jaccard —
    recomputed in pure Python from the closed-form token schedule,
    independent of signatures, banding, and Spark itself — is far below
    the query's 0.5 threshold, and (b) the operator's full output on the
    fixture corpus is EXACTLY the oracle's one-pair-per-doc enumeration
    (recall is structural: identical token arrays → identical signatures
    → co-bucketed in every band)."""
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.operators.dedup import (
        _SYNTH_DOC_TOKENS,
        _SYNTH_DOC_VOCAB,
    )

    ids = [
        r["doc_id"]
        for r in load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id")
        .collect()
    ]
    assert len(ids) == 500

    def shingle_set(i):
        toks = [
            f"w{(i * 1009 + 7 * j * j + j) % _SYNTH_DOC_VOCAB}"
            for j in range(_SYNTH_DOC_TOKENS)
        ]
        return {
            tuple(toks[j : j + 3]) for j in range(_SYNTH_DOC_TOKENS - 2)
        }

    sets = {i: shingle_set(i) for i in ids}
    posting = {}
    for i, s in sets.items():
        for sh in s:
            posting.setdefault(sh, []).append(i)
    inter = {}
    for docs_with in posting.values():
        for x in range(len(docs_with)):
            for y in range(x + 1, len(docs_with)):
                k = (docs_with[x], docs_with[y])
                inter[k] = inter.get(k, 0) + 1
    max_j = 0.0
    for (a, b), n_inter in inter.items():
        max_j = max(
            max_j, n_inter / (len(sets[a]) + len(sets[b]) - n_inter)
        )
    # 0.0 observed (no shared 3-gram shingles at all between distinct
    # synth docs); assert a wide margin below the 0.5 threshold so a
    # generator regression fails loudly before the driver gate does
    assert max_j < 0.25, max_j

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id"
    )
    corpus = dedup.synth_shingle_docs(docs).unionByName(
        dedup.synth_shingle_docs(docs, id_offset=1_000_000, twin=True)
    )
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(
            corpus, "doc_id", "text", num_hashes=32, bands=8, n=3,
            threshold=0.5,
        ).collect()
    }
    assert got == {(i, i + 1_000_000, 1.0) for i in ids}


def test_minhash_twin_contract_pipeline_and_incremental(spark, tmp_path):
    """Safety pins for the dedup_pipeline_minhash and
    dedup_incremental_minhash oracles (r12): on the synth-twin fixture
    over the REAL sf0.001/sf0.01 id set, (a) the whole pipeline's kept
    set is EXACTLY the original ids (every twin loses to its min-id
    original, no original is dragged into a spurious component), and
    (b) the persisted-index incremental query over the all-twins batch
    returns EXACTLY one (twin, original, 1.0) row per indexed corpus
    member — held-out twins stay silent even at the signature level
    (bucket collisions would need ≥16/32 identical minhashes)."""
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.operators.dedup import MinHashIndex

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id"
    )
    ids = [r["doc_id"] for r in docs.collect()]
    corpus = dedup.synth_shingle_docs(docs).unionByName(
        dedup.synth_shingle_docs(docs, id_offset=1_000_000, twin=True)
    )
    pairs = dedup.minhash_lsh_pairs(corpus, "doc_id", "text", threshold=0.5)
    kept = {
        r["doc_id"]
        for r in dedup.dedup_keep_first(corpus, pairs, "doc_id").collect()
    }
    assert kept == set(ids)

    index = MinHashIndex(str(tmp_path / "idx"))
    base = dedup.synth_shingle_docs(docs).filter(F.col("doc_id") % 5 != 0)
    index.build(base, "doc_id", "text")
    batch = dedup.synth_shingle_docs(docs, id_offset=1_000_000, twin=True)
    got = {
        (r["new_id"], r["corpus_id"], r["est_jaccard"])
        for r in index.query(batch, "doc_id", "text", threshold=0.5).collect()
    }
    assert got == {
        (i + 1_000_000, i, 1.0) for i in ids if i % 5 != 0
    }


def test_simhash64_is_deterministic_and_locality_sensitive(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different content about spark physical planning"),
        ],
        ["doc_id", "text"],
    )
    sh = {r.id: r.simhash for r in dedup.simhash_frame(df, "doc_id", "text").collect()}
    assert sh[1] == sh[2]  # identical docs → identical signature
    assert sh[1] != sh[3]
    # hamming(identical) == 0 via the pair operator with relaxed radius
    pairs = dedup.simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()
    exact_pair = [p for p in pairs if (p.id_a, p.id_b) == (1, 2)]
    assert exact_pair and exact_pair[0].hamming == 0


def test_minhash_verify_restricted_to_candidates(spark, near_dup_docs):
    """The exact-Jaccard verify stage must semi-join the corpus down to
    candidate ids BEFORE shingling (VERDICT r2 #3): the optimized plan
    carries a LeftSemi join, so the verify shuffle scales with the
    candidate set, not the corpus."""
    df = dedup.minhash_lsh_pairs(
        near_dup_docs, "doc_id", "text", num_hashes=32, bands=8
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan, plan


def test_simhash_block_widening_same_pairs(spark):
    """Candidate generation is exact for ANY n_blocks > max_hamming, so the
    verified output must be identical between the minimal (k+1 blocks,
    16-bit keys) and the default (k+3 blocks, 32-bit keys) schemes."""
    rng = random.Random(29)
    rows = []
    for g in range(12):
        # 1 edit in 100 words flips ~3/98 shingles → expected Hamming ≈ 5,
        # comfortably inside radius 7 for (almost) every twin regardless of
        # the base hash's per-seed luck (a 60-word fixture sat right AT the
        # radius: one twin drifted to Hamming 8 when the shingle hash
        # changed implementation).
        base = [rng.choice(WORDS) for _ in range(100)]
        edited = list(base)
        edited[rng.randrange(len(edited))] = rng.choice(WORDS)
        rows.append((2 * g, " ".join(base)))
        rows.append((2 * g + 1, " ".join(edited)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    minimal = _pairs(
        dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=7, n_blocks=8)
    )
    wide = _pairs(
        dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=7, n_blocks=10)
    )
    assert minimal == wide
    assert len(wide) >= 8  # the corpus actually contains twins
    # the adaptive default (n_blocks=None) picks b = k+1 below the corpus
    # threshold — its output must equal both explicit schemes
    adaptive = _pairs(dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=7))
    assert adaptive == wide


def test_simhash_band_key_width_controls_buckets(spark):
    """On UNRELATED fingerprints (uniform 64-bit longs) the minimal k+1
    scheme's 16-bit keys produce real collision buckets while the default
    k+3 scheme's 32-bit keys keep every bucket at size 1 — the bucket-size
    knob the 100 TB path depends on. 4000 uniform fingerprints: expected
    16-bit collisions ≈ C(4000,2)/2^16 ≈ 120 pairs; 32-bit ≈ 0.002."""
    rng = random.Random(31)
    sh = spark.createDataFrame(
        [(i, rng.getrandbits(64) - (1 << 63)) for i in range(4000)],
        ["id", "simhash"],
    )
    def max_bucket(n_blocks: int) -> int:
        return (
            dedup.simhash_band_keys(sh, max_hamming=3, n_blocks=n_blocks)
            .groupBy("combo", "key")
            .count()
            .agg(F.max("count").alias("m"))
            .first()
            .m
        )
    assert max_bucket(4) >= 2       # 16-bit keys: birthday collisions exist
    assert max_bucket(6) == 1       # 32-bit keys: no spurious bucket at n=4k


def test_embedding_lsh_recall_vs_exact(spark):
    """Clustered synthetic vectors: 25 clusters × 3 perturbed copies
    (cosine ≈ 0.99 within cluster) + 75 random vectors. LSH output must be
    a subset of exact output with high recall at threshold 0.9."""
    rng = random.Random(11)
    rows = []
    vid = 0
    dim = 16
    for _c in range(25):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        for _ in range(3):
            rows.append(
                (vid, [x + rng.gauss(0, 0.02) for x in center])
            )
            vid += 1
    for _ in range(75):
        rows.append((vid, [rng.gauss(0, 1) for _ in range(dim)]))
        vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exact = _pairs(
        dedup.embedding_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.9, n_planes=0
        )
    )
    approx = _pairs(
        dedup.embedding_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.9, n_planes=8, n_tables=4
        )
    )
    assert approx <= exact
    assert len(exact) >= 60  # ~75 intra-cluster pairs exist
    recall = len(approx) / len(exact)
    assert recall >= 0.9, f"embedding LSH recall {recall:.2f} / {len(exact)} pairs"


def test_rolling_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [
            (1, "one two three"),
            (2, "one two three"),
            (3, "three two one"),      # same tokens, different order
            (4, "one two three "),     # trailing whitespace ignored
        ],
        ["doc_id", "text"],
    )
    fp = {
        r.doc_id: r.fp
        for r in df.select("doc_id", rolling_hash("text").alias("fp")).collect()
    }
    assert fp[1] == fp[2] == fp[4]
    assert fp[1] != fp[3]


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [
            (10, "Hello   World"),
            (11, "hello world"),     # same after normalization
            (12, "different"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.keeper_id: r.dup_count
        for r in dedup.exact_dedup_fingerprint(df, "doc_id", "text").collect()
    }
    assert got == {10: 2, 12: 1}


def test_minhash_index_incremental_query(spark, near_dup_docs, tmp_path):
    """Corpus = originals + unrelated; batch = the edited twins (must hit
    their originals), a verbatim copy (est 1.0), and a fresh unrelated doc
    (must miss)."""
    corpus = near_dup_docs.filter(F.col("doc_id") % 3 != 1)
    idx = dedup.MinHashIndex(str(tmp_path / "idx"))
    idx.build(corpus, "doc_id", "text")

    copy_row = near_dup_docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 500).alias("doc_id"), "text"
    )
    rng = random.Random(99)
    fresh = spark.createDataFrame(
        [(600, " ".join(rng.choice(WORDS) for _ in range(80)))],
        ["doc_id", "text"],
    )
    batch = (
        near_dup_docs.filter(F.col("doc_id") % 3 == 1)
        .select("doc_id", "text")
        .unionByName(copy_row)
        .unionByName(fresh)
    )
    got = {(r.new_id, r.corpus_id): r.est_jaccard for r in idx.query(batch).collect()}

    # the verbatim copy matches doc 0 on every lane
    assert got[(500, 0)] == 1.0
    # the fresh unrelated doc must produce no match
    assert not any(nid == 600 for nid, _ in got)
    # most edited twins (j≈0.85-0.95) hit their original
    twin_hits = sum(1 for (nid, cid) in got if nid % 3 == 1 and cid == nid - 1)
    assert twin_hits >= 16, f"only {twin_hits}/20 twins matched"
    # estimator sanity: every reported estimate is a valid lane fraction
    assert all(0.5 <= v <= 1.0 for v in got.values())


def test_minhash_index_build_once_and_refingerprint(spark, near_dup_docs, tmp_path):
    import os

    corpus = near_dup_docs.filter(F.col("doc_id") % 3 == 0)
    idx = dedup.MinHashIndex(str(tmp_path / "idx2"))
    idx.build(corpus, "doc_id", "text", skip_if_exists=True)
    mtime = os.path.getmtime(idx._manifest)
    # identical corpus + params → reuse, no rewrite
    idx.build(corpus, "doc_id", "text", skip_if_exists=True)
    assert os.path.getmtime(idx._manifest) == mtime
    # changed corpus → fingerprint mismatch → rebuild
    idx.build(
        corpus.filter(F.col("doc_id") > 10), "doc_id", "text", skip_if_exists=True
    )
    mtime2 = os.path.getmtime(idx._manifest)
    assert mtime2 > mtime
    # stale signature algorithm (an index persisted by an older code
    # version) → rebuild, never silently hash-join nothing
    import json
    import time

    with open(idx._manifest) as f:
        stale = json.load(f)
    stale["sig_algo"] = "joined-string-xxhash64-v1"
    with open(idx._manifest, "w") as f:
        json.dump(stale, f)
    time.sleep(0.05)
    idx.build(
        corpus.filter(F.col("doc_id") > 10), "doc_id", "text", skip_if_exists=True
    )
    assert os.path.getmtime(idx._manifest) > mtime2
    # query() must REFUSE an instance whose parameters differ from the
    # manifest: different bands/seed band signatures into keys the stored
    # buckets never hold, a different num_hashes/n compares missing or
    # foreign lanes — all silently short or null lane counts otherwise
    for param, value in (("num_hashes", 16), ("bands", 4), ("n", 5), ("seed", 7)):
        other = dedup.MinHashIndex(idx.path, **{param: value})
        with pytest.raises(
            ValueError, match=rf"\b{param} \d+ \(this instance: {value}\)"
        ):
            other.query(corpus, "doc_id", "text")
    # query() must REFUSE a stale-algo index outright (the build-once
    # contract means nothing forces a build() call before querying):
    # old bucket keys can never hash-join fresh signatures, so an
    # unguarded query would silently return zero candidates
    with open(idx._manifest) as f:
        stale = json.load(f)
    stale["sig_algo"] = "joined-string-xxhash64-v1"
    with open(idx._manifest, "w") as f:
        json.dump(stale, f)
    with pytest.raises(ValueError, match="rebuild"):
        idx.query(corpus, "doc_id", "text")


# ---------------------------------------------------------------------------
# Containment pairs (asymmetric near-dup)
# ---------------------------------------------------------------------------

def test_stop_shingle_cutoff_bounds_postings(spark):
    """The max_df anti-join is the inverted index's skew guard: a
    boilerplate shingle carried by EVERY doc must leave the posting list
    entirely (df > max_df would make the self-join df²-quadratic on that
    key at scale), while Jaccard is computed over the RETAINED sets —
    docs unique except for the boilerplate must still pair."""
    boiler = "click here to subscribe"
    rng = random.Random(17)
    rows = []
    for g in range(30):
        base = [rng.choice(WORDS) for _ in range(40)]
        rows.append((2 * g, " ".join(base) + " " + boiler))
        edited = list(base)
        edited[5] = rng.choice(WORDS)
        rows.append((2 * g + 1, " ".join(edited) + " " + boiler))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    postings = dedup.shingle_postings(df, "doc_id", "text", n=3, max_df=20)
    max_seen = (
        postings.groupBy("shingle")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_seen <= 20, "hot shingle survived"
    pairs = _pairs(
        dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.5, max_df=20
        )
    )
    twins = {(2 * g, 2 * g + 1) for g in range(30)}
    assert twins <= pairs  # boilerplate removal didn't break real twins


def test_containment_asymmetric_subdocument(spark):
    """A short doc pasted inside a long one: containment(short→long) is
    1.0 while Jaccard stays low — the case containment exists for."""
    short = "alpha beta gamma delta epsilon"
    long = short + " zeta eta theta iota kappa lam mu nu xi omicron pi rho"
    df = spark.createDataFrame([(1, short), (2, long)], ["doc_id", "text"])
    got = {
        (r.id_src, r.id_dst): r.containment
        for r in dedup.ngram_containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.1
        ).collect()
    }
    assert got[(1, 2)] == 1.0  # every shingle of the short doc is in long
    # reverse direction: 3 of 15 long shingles come from the short doc
    assert got[(2, 1)] == round(3 / 15, 6)


def test_containment_consistent_with_jaccard(spark, sf_dir):
    """For every pair both operators emit, containment ≥ jaccard (the
    union dominates size_src), and they agree on the intersection."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.12, max_df=100
        ).collect()
    }
    cont = {
        (r.id_src, r.id_dst): r.containment
        for r in dedup.ngram_containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.0, max_df=100
        ).collect()
    }
    assert jac, "fixture should contain at least one near-dup pair"
    for (a, b), j in jac.items():
        assert cont[(a, b)] >= j - 1e-6  # containment rounded to 6dp
        assert cont[(b, a)] >= j - 1e-6


def test_set_similarity_join_equals_brute_force(spark):
    """The pigeonhole candidate stage must lose NOTHING vs brute-force
    token-set Jaccard at the threshold — including pairs whose shared
    tokens are all high-frequency."""
    from itertools import combinations

    docs = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta epsilon"),   # jac 4/5 = 0.8 with 1
        (3, "alpha beta gamma delta"),           # jac 1.0 with 1
        (4, "zeta eta theta iota"),
        (5, "zeta eta theta iota kappa"),        # jac 0.8 with 4
        (6, "alpha zeta"),                       # low jac with all
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.75, 0.8, 0.95):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.set_similarity_join(df, threshold=t).collect()
        }
        sets = {i: set(s.split()) for i, s in docs}
        want = {}
        for a, b in combinations(sorted(sets), 2):
            i = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if i / u >= t:
                want[(a, b)] = round(i / u, 6)
        assert got == want, (t, got, want)


def test_set_similarity_join_brute_force_fuzz(spark):
    """Exactness fuzz for the PartEnum rewrite (r9): random low-
    diversity corpora — the shape where recall bugs would hide (many
    near-identical sets, heavy hash-class collisions) — must match the
    brute-force answer exactly at several thresholds, including docs
    built as 1-2 token edits of each other and varied set sizes."""
    import random
    from itertools import combinations

    rng = random.Random(1234)
    vocab = [f"t{i}" for i in range(40)]
    docs = []
    i = 0
    for _ in range(60):
        base = rng.sample(vocab, rng.randint(5, 24))
        docs.append((i, " ".join(base))); i += 1
        if rng.random() < 0.6:  # a 0-2 edit near-dup of the previous doc
            mut = list(base)
            for _ in range(rng.randint(0, 2)):
                if rng.random() < 0.5 and len(mut) > 2:
                    mut.pop(rng.randrange(len(mut)))
                else:
                    tok = rng.choice(vocab)
                    if tok not in mut:
                        mut.append(tok)
            docs.append((i, " ".join(mut))); i += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sets = {d: set(s.split()) for d, s in docs}
    for t in (0.8, 0.9, 0.95):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.set_similarity_join(df, threshold=t).collect()
        }
        want = {}
        for a, b in combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= t:
                want[(a, b)] = round(inter / union, 6)
        assert got == want, (t, len(got), len(want))


def test_set_similarity_prefix_is_short(spark):
    """A 1-doc corpus yields no pairs and must not error (degenerate
    signature frame)."""
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(20)))], "doc_id long, text string"
    )
    out = dedup.set_similarity_join(df, threshold=0.9)
    # internals: re-derive via the operator's own plan — a 1-doc corpus
    # yields no pairs, but the op must not error on it either
    assert out.count() == 0


def test_minhash_null_text_docs_never_pair(spark):
    """r10 review: the 32-lane fold's xxhash64(lit(i), null) SKIPS the
    null child, so every null-text doc used to share one constant
    signature — every band bucket, est_jaccard 1.0, quadratic
    candidates on a null-heavy corpus. Null text now yields a NULL
    signature and _band_keys drops it."""
    from pyspark.sql import functions as F

    from etl_excel_csv_sql_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [
            (1, None),
            (2, None),
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, "the quick brown fox jumps over the lazy dog"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    sigs = {r.id: r.signature for r in minhash_signatures(
        df, "doc_id", "text").collect()}
    # null-text docs emit NO signature row at all (cheaper than a null
    # signature + downstream filter, which predicate pushdown re-inlined
    # as a second full lane fold — measured 2.7x on the headline query)
    assert 1 not in sigs and 2 not in sigs
    assert sigs[3] == sigs[4] and sigs[3] is not None
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.9).collect()}
    assert (3, 4) in pairs
    assert not any(1 in p or 2 in p for p in pairs)


def test_band_keys_rejects_invalid_band_counts(spark):
    """r10 review: bands > num_hashes hashed an EMPTY slice per band
    (one global bucket = full cross product); non-divisors silently
    dropped trailing lanes from the recall math. Both now raise."""
    import pytest

    from etl_excel_csv_sql_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(df, "doc_id", "text", num_hashes=8, bands=16).count()
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(df, "doc_id", "text", num_hashes=32, bands=5).count()


def test_star_components_raises_when_rounds_exhausted(spark):
    """r10 review: exhausting max_rounds used to read components off a
    non-converged edge set (min-NEIGHBOR, not component min) silently."""
    import pytest

    from etl_excel_csv_sql_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 200)], ["id_a", "id_b"]
    )
    with pytest.raises(ValueError, match="did not converge"):
        connected_components_star(pairs, max_rounds=1).collect()


def test_ngram_containment_direction_values(spark):
    """Containment stays direction-correct through the r10 explode
    rewrite: short-inside-long scores 1.0 forward, |S_s|/|S_l| reverse."""
    from etl_excel_csv_sql_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota"),
        ],
        "doc_id long, text string",
    )
    out = {(r.id_src, r.id_dst): r.containment for r in
           ngram_containment_pairs(df, "doc_id", "text", n=3,
                                   threshold=0.0).collect()}
    assert out[(1, 2)] == 1.0          # all of doc1's shingles in doc2
    assert 0 < out[(2, 1)] < 1.0


def test_paragraph_dedup_ccnet_semantics(spark):
    """CCNet paragraph dedup: threshold counts DISTINCT docs (a repeat
    within ONE doc doesn't make it boilerplate), normalization is a
    hash key only (original text survives), order is preserved, and an
    all-boilerplate doc keeps an empty text."""
    from etl_excel_csv_sql_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "BANNER\nkeep one\nkeep two"),
        (2, "banner\nonly mine"),          # case-insensitive hash match
        (3, "  BANNER  \nthird doc"),      # whitespace-collapse match
        (4, "BANNER"),                     # all boilerplate
        (5, "self\nself\nself"),           # intra-doc repeats: 1 doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(df, min_docs=3).collect()
    }
    assert out[1]["text"] == "keep one\nkeep two"
    assert out[1]["n_paras_kept"] == 2 and out[1]["n_paras_dropped"] == 1
    assert out[2]["text"] == "only mine"
    assert out[3]["text"] == "third doc"   # original form, not normalized
    assert out[4]["text"] == "" and out[4]["n_paras_kept"] == 0
    # 'self' appears 3x but in ONE doc -> count_distinct(id)=1 -> kept
    assert out[5]["text"] == "self\nself\nself"
    assert out[5]["n_paras_dropped"] == 0


def test_paragraph_dedup_null_text_doc_survives(spark):
    """ADVICE r13: split(null) posexplodes to zero rows, so a null-text
    doc used to vanish from the output entirely. The contract: every
    input id appears exactly once; null text emits (id, '', 0, 0)."""
    from etl_excel_csv_sql_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "BANNER\nmine"),
        (2, "BANNER\nyours"),
        (3, "BANNER\ntheirs"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r for r in paragraph_dedup(df, min_docs=3).collect()
    }
    assert sorted(out) == [1, 2, 3, 4]
    assert out[4]["text"] == ""
    assert out[4]["n_paras_kept"] == 0
    assert out[4]["n_paras_dropped"] == 0
    assert out[1]["text"] == "mine" and out[1]["n_paras_dropped"] == 1


def test_ngram_size_prefilter_boundary_pair_survives(spark):
    """r16 size-ratio prefilter (guide §3.2): pairs that cannot reach the
    Jaccard threshold even at maximal intersection are pruned BEFORE the
    pair-count exchange. The pruning test must be the final filter's own
    double arithmetic evaluated at I = min(size_a, size_b): this corpus
    plants the boundary pair sizes 3 vs 25 at threshold 0.12, where the
    naive bound `size_a >= 0.12 * size_b` rounds to 3.0000000000000004 > 3
    and would wrongly drop a pair whose true Jaccard 3/25 passes the
    final filter exactly. Also plants a genuinely unreachable pair
    (sizes 3 vs 28, best possible 3/28 < 0.12) and a ratio-compatible
    low-Jaccard pair (25 vs 28, killed only by the final filter)."""
    t = [f"t{i}" for i in range(1, 6)]        # shared 5-token prefix
    x = [f"x{i}" for i in range(6, 28)]       # 22 filler tokens for B
    z = [f"z{i}" for i in range(4, 31)]       # 27 filler tokens for C
    doc_a = " ".join(t)                        # 3 shingles
    doc_b = " ".join(t + x)                    # 25 shingles, ⊇ A's 3
    doc_c = " ".join(t[:3] + z)                # 28 shingles, shares ONLY
    #                                            (t1 t2 t3) with A and B
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c)], ["doc_id", "text"]
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.12
        ).collect()
    }
    # A-B: inter 3, union 25 → exactly the 0.12 threshold, must survive
    assert got == {(1, 2): 0.12}, got
    # threshold 0 keeps every sharing pair (prefilter must prune nothing
    # the final filter would keep): A-B, A-C, B-C all share >= 1 shingle
    all_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.0
        ).collect()
    }
    assert set(all_pairs) == {(1, 2), (1, 3), (2, 3)}, all_pairs
    assert all_pairs[(1, 3)] == 1 / 30 and all_pairs[(2, 3)] == 1 / 52


def test_minhash_index_query_lane_match_is_codegen(spark, near_dup_docs, tmp_path):
    """r16 (guide §4.1): MinHashIndex.query's matching-lane estimator is
    an unrolled GetArrayItem equality sum — the zip_with/aggregate fold
    (an interpreted CodegenFallback per candidate) must not reappear in
    the plan. Values are pinned by test_minhash_index_incremental_query
    (exact 1.0 for a verbatim copy, valid lane fractions throughout)."""
    corpus = near_dup_docs.filter(F.col("doc_id") % 3 == 0)
    idx = dedup.MinHashIndex(str(tmp_path / "idx_codegen"))
    idx.build(corpus, "doc_id", "text")
    q = idx.query(near_dup_docs.filter(F.col("doc_id") % 3 == 1))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "aggregate(" not in plan, plan[:2000]
    assert "zip_with" not in plan, plan[:2000]
