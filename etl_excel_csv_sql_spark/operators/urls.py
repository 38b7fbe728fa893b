"""URL hygiene for the crawl lane (VERDICT r12 #7) — pure Catalyst
column expressions, no Python anywhere: a 100 TB crawl dedups by URL
key before any content even downloads, so these run at scan speed
inside whole-stage codegen.

Normalization contract (the subset of RFC 3986 §6 that is safe without
fetching — deterministic, idempotent, oracle-friendly):

- trim surrounding whitespace;
- drop the fragment (``#...`` — never sent to the server);
- lowercase the scheme and the authority (host names are
  case-insensitive; paths are NOT touched);
- drop the default port (``:80`` for http, ``:443`` for https);
- collapse trailing slashes on the path when the URL has no query
  string (``/a/`` and ``/a`` are almost always the same resource; with
  a query the path boundary is semantic, so it is left alone);
- percent-encoding normalization per RFC 3986 §6.2.2 (r14): decode
  escapes of UNRESERVED characters (``%41`` → ``A``, ``%7E`` → ``~``
  — the RFC says these are equivalent for every origin) and uppercase
  the hex digits of every escape that stays (``%2f`` → ``%2F``);
  escapes of reserved characters are never decoded (``%2F`` vs ``/``
  can be semantic). Applies to the path+query, not the authority.

IDN/punycode is deliberately out of scope (it changes bytes the origin
may distinguish and needs a full nameprep table).

``registrable_domain`` is the grouping key crawl frontiers and per-site
caps use. Since r14 it runs the full Public Suffix List matching
algorithm against a packaged PSL snapshot (operators/psl.py — public
data from publicsuffix.org), compiled into Catalyst ``isin``/``InSet``
membership tests so it stays a zero-Python, zero-join column
expression; the old co/com/net/org/ac/gov/edu-under-2-letter-ccTLD
heuristic survives inside psl.py as the documented fallback for
ccTLDs the snapshot doesn't enumerate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_excel_csv_sql_spark.operators import psl as _psl


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _normalize_percent(col: Column) -> Column:
    """RFC 3986 §6.2.2 percent-encoding normalization as pure Catalyst:
    split on '%', then each split tail either decodes (2 hex digits
    naming an unreserved char), re-uppercases (2 hex digits naming
    anything else), or passes through verbatim (not a valid escape —
    browsers tolerate stray '%', so the normalizer must too)."""

    def fix(p: Column) -> Column:
        hex2 = F.substring(p, 1, 2)
        is_hex = hex2.rlike("^[0-9A-Fa-f]{2}$")
        ch = F.char(F.conv(hex2, 16, 10).cast("int"))
        unreserved = ch.rlike("^[A-Za-z0-9._~-]$")
        rest = F.substring(p, 3, 2147483647)
        return (
            F.when(is_hex & unreserved, F.concat(ch, rest))
            .when(is_hex, F.concat(F.lit("%"), F.upper(hex2), rest))
            .otherwise(F.concat(F.lit("%"), p))
        )

    parts = F.split(col, "%")
    return F.when(~col.contains("%"), col).otherwise(
        F.concat(
            F.element_at(parts, 1),
            F.array_join(
                F.transform(F.slice(parts, 2, F.size(parts) - 1), fix), ""
            ),
        )
    )


def normalize_url(url) -> Column:
    """The normalization contract above, as one Catalyst expression.

    Scheme-less input ('example.com/x', a relative path, '') passes
    through trimmed + fragment-stripped but otherwise UNTOUCHED: the
    old behavior spliced '://' in front of whatever remained, minting
    a corrupted '://example.com/x' key that could still collide in
    url_key_dedup (ADVICE r13). Without a scheme there is no authority
    boundary to normalize, so the safe normal form is the input
    itself."""
    t = F.regexp_replace(F.trim(_col(url)), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(t, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    after = F.regexp_replace(t, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    raw_auth = F.regexp_extract(after, r"^([^/?]*)", 1)
    # userinfo is CASE-SENSITIVE (RFC 3986 §3.2.1) — lowercasing it
    # would over-merge distinct URLs in the dedup; only the host part
    # of the authority is case-insensitive
    userinfo = F.regexp_extract(raw_auth, r"^(.*@)", 1)
    authority = F.concat(
        userinfo, F.lower(F.regexp_replace(raw_auth, r"^.*@", ""))
    )
    rest = F.regexp_replace(after, r"^[^/?]*", "")
    rest = F.when(
        rest.contains("?"), rest
    ).otherwise(F.regexp_replace(rest, r"/+$", ""))
    # percent normalization can't mint '/' or '?' (those are reserved
    # and never decode), so running it after the slash/query handling
    # is order-independent
    rest = _normalize_percent(rest)
    return F.when(scheme == "", t).otherwise(
        F.concat(
            scheme, F.lit("://"), _strip_default_port(scheme, authority), rest
        )
    )


def _strip_default_port(scheme: Column, authority: Column) -> Column:
    return F.when(
        (scheme == F.lit("http")) & authority.endswith(":80"),
        F.substring(authority, 1, F.length(authority) - 3),
    ).when(
        (scheme == F.lit("https")) & authority.endswith(":443"),
        F.substring(authority, 1, F.length(authority) - 4),
    ).otherwise(authority)


def url_host(norm_url) -> Column:
    """Host from a NORMALIZED url: authority minus userinfo and port."""
    auth = F.regexp_extract(_col(norm_url), r"^[a-z][a-z0-9+.-]*://([^/?]*)", 1)
    no_user = F.regexp_replace(auth, r"^.*@", "")
    return F.regexp_replace(no_user, r":\d+$", "")


def registrable_domain(host) -> Column:
    """eTLD+1 via the packaged Public Suffix List snapshot
    (operators/psl.py): exceptions beat everything, then the matching
    rule with the most labels wins, wildcard ccTLDs match one extra
    label, and the implicit ``*`` / registrar heuristic handle hosts
    the snapshot doesn't cover. A bare public suffix returns itself
    (the key stays total)."""
    return _psl.registrable_domain(_col(host))


def url_key_dedup(
    df: DataFrame, id_col: str, url_col: str
) -> DataFrame:
    """URL-key exact dedup: normalize, group by the normalized key,
    keep the min-id row per key — (url_norm, host, etld1,
    keeper_doc_id, n_dups). One shuffle on the normalized-url hash;
    the upstream frame never re-shuffles (the same keep-first shape as
    exact_dedup_fingerprint, keyed on the URL instead of content)."""
    normed = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        normalize_url(url_col).alias("url_norm"),
    ).withColumn("host", url_host(F.col("url_norm")))
    return (
        normed.withColumn("etld1", registrable_domain(F.col("host")))
        .groupBy("url_norm", "host", "etld1")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def fetch_schedule(frontier: DataFrame, rate_per_wave: int = 1) -> DataFrame:
    """Politeness scheduling: assign each frontier URL a fetch ``slot``
    within its host (deterministic ``url_norm`` order) and a ``wave`` =
    slot // rate_per_wave — wave w fetches at most ``rate_per_wave``
    URLs per host, so a fetcher that sweeps waves in order never
    exceeds the per-host rate no matter how skewed the frontier is.

    The window partitions by HOST (bounded per-partition work — the
    100 TB-safe shape; an unpartitioned global ordering would be the
    single-task killer the plan guards exist for). One shuffle on
    host."""
    from pyspark.sql import Window

    if rate_per_wave < 1:
        raise ValueError("rate_per_wave must be >= 1")
    w = Window.partitionBy("host").orderBy("url_norm")
    slot = F.row_number().over(w) - 1
    return frontier.withColumn("slot", slot.cast("int")).withColumn(
        "wave", (F.col("slot") / rate_per_wave).cast("int")
    )


def fetch_schedule_delays(frontier: DataFrame, delays: DataFrame) -> DataFrame:
    """Delay-aware politeness scheduling (r14): ``delays`` carries
    per-host ``crawl_delay_s`` (from ``robots.parse_robots_crawl_delay``
    over fetched robots bodies); each frontier URL gets its host
    ``slot`` (deterministic ``url_norm`` order) and ``eta_s`` = slot ×
    the host's delay (1 s where the host published none) — a fetcher that dispatches URL u no earlier than eta_s
    never violates any host's Crawl-delay, no matter how skewed the
    frontier is.

    Plan: broadcast-join the delays dim (hosts-with-robots is the
    small side), one window partitioned BY HOST — the same
    bounded-per-partition shape as ``fetch_schedule``.

    The delays dim is aggregated to ONE row per host before the join
    (ADVICE r14): duplicate host rows would otherwise multiply frontier
    rows, minting duplicate slots and corrupt eta_s. ``max`` wins — the
    most conservative published delay is the only one that violates no
    variant of the host's policy."""
    from pyspark.sql import Window

    d = F.broadcast(
        delays.select(
            F.col("host").alias("__dhost"),
            F.col("crawl_delay_s").cast("double").alias("__delay"),
        )
        .groupBy("__dhost")
        .agg(F.max("__delay").alias("__delay"))
    )  # hint on the AGGREGATED frame: one row per host rides the broadcast
    w = Window.partitionBy("host").orderBy("url_norm")
    slot = F.row_number().over(w) - 1
    return (
        frontier.join(d, frontier["host"] == d["__dhost"], "left")
        .drop("__dhost")
        .withColumn("slot", slot.cast("int"))
        .withColumn(
            "crawl_delay_s",
            F.coalesce(F.col("__delay"), F.lit(1.0)),
        )
        .drop("__delay")
        .withColumn(
            "eta_s", (F.col("slot") * F.col("crawl_delay_s")).cast("double")
        )
    )


def crawl_revisit_diff(
    prev: DataFrame,
    curr: DataFrame,
    url_col: str = "url_norm",
    fp_col: str = "fp",
) -> DataFrame:
    """Cross-snapshot revisit diff (r14) — the incremental-crawl
    primitive between two crawl snapshots (Common Crawl publishes
    monthly): one full-outer join on the normalized URL key classifies
    every URL as ``new`` (this snapshot only), ``gone`` (previous
    only), ``changed`` (both, different content fingerprint), or
    ``unchanged`` — what drives recrawl prioritization and
    delta-ingest (only ``new``+``changed`` flow into the expensive
    extract/dedup stages).

    Inputs are one row per URL (frontier shape, post url_key_dedup)
    with a content fingerprint column (xxhash64 of the body, an
    ETag — any equality-comparable token). One shuffle on the URL key;
    both sides partition identically, so AQE plans a single exchange
    pair with no residual skew beyond the key distribution itself.

    Presence is tracked with explicit marker columns, NOT fingerprint
    nullness (ADVICE r14): fingerprints are often legitimately absent
    (ETags are optional), so a prev row with a NULL fp must still read
    as present — new/gone come from the markers, changed/unchanged from
    a null-safe fp comparison (both-NULL ⇒ unchanged)."""
    p = prev.select(
        F.col(url_col).alias("url"),
        F.col(fp_col).alias("prev_fp"),
        F.lit(True).alias("__in_prev"),
    )
    c = curr.select(
        F.col(url_col).alias("url"),
        F.col(fp_col).alias("curr_fp"),
        F.lit(True).alias("__in_curr"),
    )
    j = p.join(c, "url", "full_outer")
    status = (
        F.when(F.col("__in_prev").isNull(), F.lit("new"))
        .when(F.col("__in_curr").isNull(), F.lit("gone"))
        .when(F.col("prev_fp").eqNullSafe(F.col("curr_fp")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("url", "prev_fp", "curr_fp", status.alias("status"))


def fetch_schedule_bucketed(
    frontier: DataFrame,
    rate_per_wave: int = 1,
    n_buckets: int = 32,
    bucket: Column | None = None,
) -> DataFrame:
    """WHALE-PROOF politeness scheduling (r14): ``fetch_schedule``'s
    per-host window serializes each host into ONE task — fine for the
    web's long tail, a single-task killer for a whale host carrying
    10^8 frontier URLs. This is the bucket-and-stitch twin (the same
    pattern as the whale-proof sessionize): rank within (host, bucket)
    — per-partition work bounded by whale/n_buckets — then stitch with
    per-host bucket offsets computed on the TINY (host, bucket) counts
    frame, slot = offset + in-bucket rank.

    The total order per host is (bucket, url) instead of pure url — a
    DIFFERENT but equally deterministic order, which is all politeness
    needs. ``bucket`` overrides the default ``xxhash64(url) % n``
    (fixtures pass a closed-form expression so oracles can replicate).

    Output: frontier + (bucket, slot, wave). Shuffles: one on
    (host, bucket) shared by the rank window and the stitch join, one
    tiny one on host for the offsets window (bounded at n_buckets rows
    per host)."""
    from pyspark.sql import Window

    if rate_per_wave < 1:
        raise ValueError("rate_per_wave must be >= 1")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    b = (
        bucket
        if bucket is not None
        else F.pmod(F.xxhash64(F.col("url_norm")), F.lit(n_buckets))
    )
    df = frontier.withColumn("bucket", b.cast("int"))
    w_rank = Window.partitionBy("host", "bucket").orderBy("url_norm")
    ranked = df.withColumn("__r", F.row_number().over(w_rank))
    counts = df.groupBy("host", "bucket").agg(
        F.count(F.lit(1)).alias("__n")
    )
    w_off = (
        Window.partitionBy("host")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        F.col("host").alias("__ohost"),
        F.col("bucket").alias("__obucket"),
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    return (
        ranked.join(
            offsets,
            (ranked["host"] == offsets["__ohost"])
            & (ranked["bucket"] == offsets["__obucket"]),
        )
        .withColumn(
            "slot", (F.col("__off") + F.col("__r") - 1).cast("int")
        )
        .withColumn("wave", (F.col("slot") / rate_per_wave).cast("int"))
        .drop("__r", "__ohost", "__obucket", "__off")
    )
