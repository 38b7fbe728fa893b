"""Text-analysis column expressions for large-scale corpus pipelines.

All pure built-in expressions (split/filter/transform/aggregate) — they run
inside codegen on executors, shuffle nothing by themselves, and scale
linearly with the corpus. Designed for the ``documents`` table
(doc_id, text, lang, source, n_chars) but column-generic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str

#: Tiny embedded stopword lists per language for the n-gram/stopword
#: language-ID heuristic and quality scoring. Deliberately small: real
#: deployments plug in their own lists via the ``stopwords=`` params.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "mit"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "es", "los"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "que", "les", "dans"),
    "it": ("il", "di", "che", "e", "per", "con", "sono", "della", "anche", "non"),
    "pt": ("o", "do", "da", "em", "um", "uma", "para", "com", "os", "das"),
    "nl": ("het", "een", "van", "ik", "te", "dat", "niet", "zijn", "ook", "maar"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "人"),
}

#: Unicode-script detection stage for :func:`lang_id`, checked IN ORDER
#: (first match wins): (lang, codepoint ranges, min share of non-space
#: chars). Kana outranks Han because Japanese prose mixes kanji with kana
#: — even a modest kana share marks ja before the zh Han test fires.
#: ``\x{...}`` codepoint escapes parse identically in Java regex (Spark)
#: and RE2 (DuckDB), and every range is BMP so both engines count one
#: char per codepoint.
SCRIPT_RANGES: tuple[tuple[str, str, float], ...] = (
    ("ja", r"\x{3040}-\x{30FF}", 0.05),  # hiragana + katakana
    ("ko", r"\x{AC00}-\x{D7AF}\x{1100}-\x{11FF}", 0.30),  # hangul + jamo
    ("zh", r"\x{4E00}-\x{9FFF}", 0.30),  # CJK unified han
    ("ru", r"\x{0400}-\x{04FF}", 0.30),  # cyrillic
    ("ar", r"\x{0600}-\x{06FF}", 0.30),  # arabic
    ("el", r"\x{0370}-\x{03FF}", 0.30),  # greek
    ("he", r"\x{0590}-\x{05FF}", 0.30),  # hebrew
)


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_text(text: ColumnOrName) -> Column:
    """Lowercase + collapse whitespace — canonical form for exact-dup
    fingerprinting."""
    return F.trim(F.regexp_replace(F.lower(_col(text)), r"\s+", " "))


def tokens(text: ColumnOrName) -> Column:
    """Whitespace tokenization → array<string>. Empty text → empty array."""
    trimmed = F.trim(_col(text))
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text: ColumnOrName) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: ColumnOrName) -> Column:
    """Approximate subword token count: regex-split into word pieces,
    numbers, and punctuation runs (a BPE-ish proxy — counts the units a
    byte-pair tokenizer would rarely merge across)."""
    pieces = F.regexp_extract_all(
        _col(text), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
    )
    return F.size(pieces)


def punct_ratio(text: ColumnOrName) -> Column:
    """Fraction of non-whitespace characters that are punctuation."""
    t = _col(text)
    non_ws = F.length(F.regexp_replace(t, r"\s", ""))
    non_punct_non_ws = F.length(F.regexp_replace(t, r"[\s\p{Punct}]", ""))
    return F.when(non_ws > 0, (non_ws - non_punct_non_ws) / non_ws).otherwise(
        F.lit(0.0)
    )


def stopword_ratio(text: ColumnOrName) -> Column:
    """Fraction of tokens that are stopwords (quality signal: natural prose
    has a stable stopword ratio; keyword spam / boilerplate does not)."""
    toks = tokens(text)
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    # array_intersect would dedup; count actual occurrences
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: ColumnOrName) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    low punctuation density. A cheap pre-filter for training-data pipelines;
    tune weights per corpus."""
    tc = token_count(text)
    length_ok = F.when((tc >= 10) & (tc <= 10_000), 1.0).otherwise(0.0)
    sw_ok = F.when(stopword_ratio(text) > 0.01, 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text) < 0.3, 1.0).otherwise(0.0)
    return (length_ok + sw_ok + punct_ok) / F.lit(3.0)


def lang_scores(text: ColumnOrName) -> Column:
    """map<lang,double>: per-language stopword hit-rate."""
    toks = tokens(text)
    entries = []
    for lang, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
        score = F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))
        entries.extend([F.lit(lang), score])
    return F.create_map(*entries)


def script_ratio(text: ColumnOrName, ranges: str) -> Column:
    """Share of non-whitespace characters inside the given codepoint
    ranges (a ``[...]``-class body like ``\\x{0400}-\\x{04FF}``)."""
    t = _col(text)
    non_ws = F.length(F.regexp_replace(t, r"\s", ""))
    in_script = F.length(F.regexp_replace(t, f"[^{ranges}]", ""))
    return F.when(non_ws > 0, in_script / non_ws).otherwise(F.lit(0.0))


def lang_id(text: ColumnOrName) -> Column:
    """Two-stage heuristic language ID.

    Stage 1 — Unicode script detection (:data:`SCRIPT_RANGES`, first
    match wins): ja/ko/zh/ru/ar/el/he by codepoint-range share of
    non-space characters. Script evidence is near-unambiguous and costs
    one regexp count per range — no tokenization.

    Stage 2 — Latin-script texts fall through to the stopword argmax over
    :data:`STOPWORDS` (en/de/es/fr/it/pt/nl/zh), ties broken by language
    code order; no hits at all → ``"en"``.

    Deterministic and oracle-mirrorable by construction (the registry
    generates the matching DuckDB SQL from these same tables); swap in a
    real classifier (pandas_udf) for production labeling.
    """
    # Argmax via array_min over (-score, lang) structs: struct ordering is
    # field-lexicographic, so the minimum IS "highest score, then first
    # language code" — one linear expression. (The obvious iterative
    # best-so-far when/otherwise chain nests the whole prior expression
    # twice per language → 2^|langs| expression blowup; at 8 languages
    # that was a >1 MiB task binary and a 20x slowdown.)
    scores = lang_scores(text)
    langs = sorted(STOPWORDS)
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    (-scores.getItem(lang)).alias("neg"),
                    F.lit(lang).alias("lang"),
                )
                for lang in langs
            ]
        )
    )
    result = F.when(best.getField("neg") < 0, best.getField("lang")).otherwise(
        F.lit("en")
    )
    for lang, ranges, threshold in reversed(SCRIPT_RANGES):
        result = F.when(
            script_ratio(text, ranges) >= threshold, F.lit(lang)
        ).otherwise(result)
    return result


def word_shingles(text: ColumnOrName, n: int = 3) -> Column:
    """Array of n-word shingles (distinct), the unit set for Jaccard /
    MinHash near-dup detection. Documents shorter than n words yield a
    single shingle of the whole text."""
    toks = tokens(text)
    k = F.size(toks)
    shingled = F.transform(
        F.sequence(F.lit(0), k - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    whole = F.array(F.array_join(toks, " "))
    return F.array_distinct(F.when(k >= n, shingled).otherwise(whole))


def positional_word_ngrams(text: ColumnOrName, n: int = 5) -> Column:
    """Array of ALL n-word grams in order (duplicates kept — one entry per
    token position), the unit for exact repeated-span detection (Lee et
    al., "Deduplicating Training Data Makes Language Models Better":
    duplicated spans are counted per occurrence, not per distinct value).
    Documents shorter than n words yield the whole text as one gram."""
    toks = tokens(text)
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), k - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    whole = F.array(F.array_join(toks, " "))
    return F.when(k >= n, grams).otherwise(whole)


def char_ngrams(text: ColumnOrName, n: int = 5) -> Column:
    """Array of distinct character n-grams (SimHash / fingerprint unit)."""
    t = _col(text)
    ln = F.length(t)
    grams = F.transform(
        F.sequence(F.lit(1), ln - n + 1), lambda i: F.substring(t, i, F.lit(n))
    )
    whole = F.array(t)
    return F.array_distinct(F.when(ln >= n, grams).otherwise(whole))


#: Redaction patterns: deliberately simple alternation-free regexes that
#: behave identically under Java regex (Spark) and RE2 (DuckDB oracle).
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "PHONE": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    "IPV4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def redact_pii(text: ColumnOrName) -> Column:
    """Replace PII-shaped spans with ``<KIND>`` placeholders — the cheap
    regex pass a training-data pipeline runs before anything ships.
    Pattern order matters (emails before phones so digits inside an
    address aren't half-eaten); patterns are intentionally conservative —
    a production pipeline layers an ML pass on top."""
    out = _col(text)
    for kind in ("EMAIL", "PHONE", "IPV4"):
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind}>")
    return out


def rolling_hash(text: ColumnOrName) -> Column:
    """Polynomial rolling hash over the token stream — an order-sensitive
    document fingerprint (exact-dup detection robust to trailing whitespace
    but not to reordering, unlike set-based shingles).

    h = ((h * 31) + token_hash) mod (2**61 - 1), folded left over tokens via
    ``aggregate`` — pure JVM expression.
    """
    mod = 2**61 - 1
    toks = tokens(text)
    return F.aggregate(
        toks,
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, t: (
            (acc * 31 + F.abs(F.xxhash64(t)) % F.lit(mod)) % F.lit(mod)
        ).cast("decimal(38,0)"),
    ).cast("long")
