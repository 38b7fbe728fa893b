"""robots.txt politeness filtering for the crawl lane — the other half
of URL hygiene (operators/urls.py): a real crawl frontier drops
disallowed URLs BEFORE fetching, so the filter must run at frontier
scale (billions of URLs × millions of hosts) as plain joins and
aggregations, never a per-URL Python matcher.

Rule semantics, full RFC 9309 §2.2.2–§2.2.3 including wildcard
patterns (r14 — previously ``*`` / ``$`` rules were parsed as literal
prefixes that matched almost nothing, so the filter CRAWLED disallowed
URLs on the large fraction of real robots.txt files that use them):

- a rule path is a match PATTERN: ``*`` matches any byte sequence and
  a TRAILING ``$`` anchors the match at the end of the URL path; every
  other byte is literal, and a pattern without wildcards is a plain
  prefix match;
- the MOST SPECIFIC matching rule wins — octet length of the rule
  path per RFC 9309 §2.2.2 (wildcard bytes count; this matches the
  reference Google parser's priority = pattern length);
- at equal length, ``allow`` wins (least-restrictive tie break);
- no matching rule for the URL's host — including a host with no
  robots.txt at all — means allowed;
- an empty-path disallow is a no-op per the RFC (matches nothing),
  and the parser drops it.

Plan shape: URLs join rules on host (the rules side is the small one —
broadcast when it fits, shuffle on host otherwise), rules compile to
anchored Java regexes ONCE on the rules side (``compile_rule_pattern``
— pure Catalyst string ops: escape, ``*``→``.*``, trailing ``$``→end
anchor), match via ``regexp_like``, then one ``max_by`` aggregation
per URL on the (length, is_allow) specificity struct. Two shuffles
max, no window, no Python.

``parse_robots_text`` / ``parse_robots_crawl_delay`` /
``parse_robots_sitemaps`` are the pure per-body parsers;
``parse_robots_frame`` (r14) runs the SAME parsers executor-side as
one Arrow ``mapInPandas`` pass over a (host, body) frame — a real
frontier holds robots bodies for millions of hosts, which must never
round-trip through the driver. The filtering itself stays pure JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def parse_robots_text(text: str, agent: str = "*") -> list[tuple[str, str]]:
    """robots.txt body → [(rule, path), ...] for the given user-agent
    group (case-insensitive directives, ``#`` comments, groups split on
    user-agent lines per RFC 9309 §2.1; the ``*`` group applies when no
    specific group matches). Empty-path disallows drop (RFC no-op)."""
    groups: dict[str, list[tuple[str, str]]] = {}
    current: list[str] = []
    last_was_agent = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not last_was_agent:
                current = []
            current.append(value.lower())
            for a in current:
                groups.setdefault(a, [])
            last_was_agent = True
        elif key in ("allow", "disallow"):
            last_was_agent = False
            if key == "disallow" and not value:
                continue  # empty disallow = allow everything (no-op)
            if not value:
                continue
            for a in current or ["*"]:
                groups.setdefault(a, []).append((key, value))
        else:
            last_was_agent = False
    agent = agent.lower()
    if agent in groups:
        return groups[agent]
    return groups.get("*", [])


def parse_robots_crawl_delay(text: str, agent: str = "*") -> float | None:
    """``Crawl-delay:`` seconds for the given user-agent group — the
    de facto directive (not in RFC 9309, honored by most non-Google
    crawlers) that feeds delay-aware fetch scheduling
    (``urls.fetch_schedule_delays``). Resolution: the matching agent
    group's delay if it set one, else the ``*`` group's, else None
    (crawler default applies). Non-numeric / negative values are
    ignored (real robots.txt files carry plenty of garbage). When the
    same agent appears in several groups, the LAST group's delay wins
    (plain assignment, ADVICE r14) — consistent with
    ``parse_robots_text``, which merges all matching groups so later
    rules are never ignored."""
    delays: dict[str, float] = {}
    current: list[str] = []
    last_was_agent = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not last_was_agent:
                current = []
            current.append(value.lower())
            last_was_agent = True
        elif key == "crawl-delay":
            last_was_agent = False
            try:
                d = float(value)
            except ValueError:
                continue
            if d < 0:
                continue
            for a in current or ["*"]:
                delays[a] = d
        else:
            last_was_agent = False
    agent = agent.lower()
    if agent in delays:
        return delays[agent]
    return delays.get("*")


def parse_robots_sitemaps(text: str) -> list[str]:
    """``Sitemap:`` directives from a robots.txt body — group-
    INDEPENDENT per RFC 9309 §2.3 (they apply regardless of
    user-agent), so this is a flat scan. The discovery hook that feeds
    io/sitemap.py: robots names the sitemaps, sitemaps name the
    URLs."""
    out = []
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        key, sep, value = line.partition(":")
        if sep and key.strip().lower() == "sitemap":
            value = value.strip()
            if value:
                out.append(value)
    return out


def compile_rule_pattern(path) -> Column:
    """Rule path → anchored Java regex implementing RFC 9309 §2.2.3
    wildcard semantics, as pure Catalyst string expressions (computed
    once per RULE row — the small side — never per URL):

    - a single trailing ``$`` becomes the end-of-path anchor;
    - every regex metacharacter in the remaining body is escaped;
    - ``*`` becomes ``.*`` (it was deliberately left out of the escape
      class);
    - the result is start-anchored, so a wildcard-free rule degenerates
      to exactly the old prefix match.

    A ``$`` anywhere but the end is a literal byte per the RFC (the
    end-of-match character is only defined at the end of the pattern).
    """
    p = F.col(path) if isinstance(path, str) else path
    anchored = p.endswith("$")
    body = F.regexp_replace(p, r"\$$", "")
    esc = F.regexp_replace(
        body, r"([\\.\[\]\{\}\(\)\+\?\^\$\|])", r"\\$1"
    )
    starred = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(
        F.lit("^"), starred, F.when(anchored, F.lit("$")).otherwise(F.lit(""))
    )


def url_path(url) -> Column:
    """Path + query of a normalized URL ('' → '/'): the byte string
    robots rules match against."""
    u = F.col(url) if isinstance(url, str) else url
    p = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://[^/?]*", "")
    return F.when(p == "", F.lit("/")).otherwise(p)


def filter_crawlable(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """URLs → URLs + (verdict boolean, winning rule) under the module's
    longest-match semantics.

    ``urls``: any frame carrying ``url_norm`` and ``host`` (the
    normalize + host-extract output of operators/urls.py).
    ``rules``: (host, rule in {'allow','disallow'}, path) — one row per
    directive, e.g. exploded from ``parse_robots_text`` over fetched
    robots bodies.

    Output: the input columns plus ``allowed`` / ``rule_path`` (null
    when no rule matched; ``rule_path`` is the rule's ORIGINAL pattern
    text, wildcards and all). Join on host, regexp match against the
    rules-side compiled patterns, one max_by on (octet length,
    is_allow) — ties break toward allow per RFC.

    Shuffle shape (VERDICT r14 #5): the rule join and the verdict
    aggregation run on a NARROW distinct-(url, host) projection — the
    frame the per-rule row multiplication inflates carries only the
    URL key and the rule path, never the input's payload columns
    (a frontier row drags body bytes / metadata; shuffling those
    through a per-rule multiply is the wide-row trap the old
    group-by-all-columns shape had). Verdicts then rejoin to the
    input on a null-safe URL equality, so the payload crosses exactly
    one exchange. Duplicate input URLs are no longer collapsed —
    each input row keeps its verdict (the old shape required distinct
    rows; this one merely shares one verdict per URL)."""
    narrow = (
        urls.select(
            F.col("url_norm").alias("__u"), F.col("host").alias("__h")
        )
        .dropDuplicates(["__u"])
        .withColumn("__path", url_path(F.col("__u")))
    )
    r = rules.select(
        F.col("host").alias("__rhost"),
        F.lower(F.col("rule")).alias("__rule"),
        F.col("path").alias("__rpath"),
        compile_rule_pattern("path").alias("__rpattern"),
    )
    matched = (
        narrow.join(r, narrow["__h"] == r["__rhost"], "left")
        .withColumn(
            "__hit",
            F.col("__rpattern").isNotNull()
            & F.regexp_like(F.col("__path"), F.col("__rpattern")),
        )
    )
    verdicts = (
        matched.groupBy("__u")
        .agg(
            F.max_by(
                F.struct(
                    F.col("__rule").alias("rule"),
                    F.col("__rpath").alias("rule_path"),
                ),
                F.when(
                    F.col("__hit"),
                    F.struct(
                        F.length("__rpath").alias("l"),
                        (F.col("__rule") == "allow")
                        .cast("int")
                        .alias("a"),
                    ),
                ),
            ).alias("__best")
        )
        .select(
            "__u",
            F.coalesce(
                F.col("__best.rule") == "allow", F.lit(True)
            ).alias("allowed"),
            F.col("__best.rule_path").alias("rule_path"),
        )
    )
    return urls.join(
        verdicts, urls["url_norm"].eqNullSafe(verdicts["__u"]), "left"
    ).drop("__u")


ROBOTS_RULES_SCHEMA = (
    "host string, kind string, rule string, path string, "
    "crawl_delay_s double, sitemap_url string"
)
_ROBOTS_COLS = tuple(f.split(" ")[0] for f in ROBOTS_RULES_SCHEMA.split(", "))


def parse_robots_frame(df):
    """DISTRIBUTED robots.txt parsing (r14): (host, fetched robots
    body) → one tidy row per directive, via one Arrow ``mapInPandas``
    pass — a real frontier holds robots bodies for MILLIONS of hosts,
    so parsing them driver-side (the fixture-era
    ``parse_robots_text`` loop) would never scale; this keeps the
    politeness stack executor-side end to end.

    Output rows by ``kind``:

    - ``rule``: (rule ∈ allow|disallow, path) for the ``*`` group —
      the frame ``filter_crawlable`` consumes directly;
    - ``delay``: (crawl_delay_s) — resolved per
      ``parse_robots_crawl_delay``, feeds ``fetch_schedule_delays``;
    - ``sitemap``: (sitemap_url) — group-independent discovery
      pointers, feed io/sitemap.py.

    A NULL body (host never fetched / no robots.txt) emits no rows —
    downstream semantics already treat a missing host as allow-all.
    The kernel wraps the SAME pure parsers the unit tests pin, so
    driver-side and distributed parses can never drift."""
    import pandas as pd

    def batches(it):
        for pdf in it:
            out: dict[str, list] = {k: [] for k in _ROBOTS_COLS}

            def add(host, kind, rule=None, path=None, delay=None,
                    sm=None) -> None:
                out["host"].append(host)
                out["kind"].append(kind)
                out["rule"].append(rule)
                out["path"].append(path)
                out["crawl_delay_s"].append(delay)
                out["sitemap_url"].append(sm)

            for host, text in zip(pdf["host"], pdf["robots_txt"]):
                if text is None:
                    continue
                text = str(text)
                for rule, path in parse_robots_text(text, "*"):
                    add(host, "rule", rule=rule, path=path)
                delay = parse_robots_crawl_delay(text, "*")
                if delay is not None:
                    add(host, "delay", delay=float(delay))
                for sm in parse_robots_sitemaps(text):
                    add(host, "sitemap", sm=sm)
            yield pd.DataFrame(out)

    return df.select("host", "robots_txt").mapInPandas(batches, ROBOTS_RULES_SCHEMA)
