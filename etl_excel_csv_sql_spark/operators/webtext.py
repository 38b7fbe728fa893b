"""HTML → visible text extraction — the WET-conversion stage between
crawl ingest (io/warc.py) and the text pipeline (language ID, quality,
dedup): a crawl's response bodies are HTML, and every downstream
operator wants the rendered text.

Pure stdlib (``html.parser``, lenient by construction — real-world HTML
is never "well-formed", so unlike the binary codecs there is no
quarantine lane: every input produces SOME text). Extraction contract,
deterministic and oracle-friendly:

- ``<script> <style> <noscript> <template>`` subtrees contribute
  nothing (the boilerplate a text pipeline must never train on);
- ``<head>`` content is metadata, not visible text — the ``<title>``
  is captured separately;
- all other text nodes are concatenated in document order with every
  whitespace run collapsed to one space;
- ``n_links`` counts ``<a href=...>`` anchors (the out-degree feature
  link-spam classifiers use).

The Spark surface is one Arrow ``mapInPandas`` kernel, composing with
``read_warc`` into crawl → text in two narrow passes.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SKIP_TAGS = {"script", "style", "noscript", "template"}


class _TextExtractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self.title_parts: list[str] = []
        self.n_links = 0
        self.hrefs: list[str] = []
        self._skip_depth = 0
        self._in_head = 0
        self._in_title = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag == "head":
            self._in_head += 1
        elif tag == "title":
            self._in_title += 1
        elif (
            tag == "a"
            and not self._skip_depth
            and not self._in_head
            and any(k == "href" for k, _ in attrs)
        ):
            # same visibility condition as handle_data (ADVICE r12):
            # anchors inside skipped subtrees or <head> are boilerplate,
            # not the out-degree a link-spam classifier wants
            self.n_links += 1
            self.hrefs.append(
                next(v for k, v in attrs if k == "href") or ""
            )

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS and self._skip_depth:
            self._skip_depth -= 1
        elif tag == "head" and self._in_head:
            self._in_head -= 1
        elif tag == "title" and self._in_title:
            self._in_title -= 1

    def handle_data(self, data):
        if self._in_title:
            self.title_parts.append(data)
        elif not self._skip_depth and not self._in_head:
            self.parts.append(data)


def html_to_text(html: str) -> tuple[str | None, str, int]:
    """(title, visible_text, n_links) per the module's extraction
    contract. Lenient like every browser: unclosed tags, bare text,
    or outright garbage still yield their visible text."""
    p = _TextExtractor()
    p.feed(html)
    p.close()
    title = " ".join(" ".join(p.title_parts).split()) or None
    text = " ".join(" ".join(p.parts).split())
    return title, text, p.n_links


WEB_TEXT_SCHEMA = (
    "doc_id long, title string, text string, n_links int, n_chars long"
)


def extract_web_text(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "text_head"
) -> DataFrame:
    """(id, html) → (doc_id, title, text, n_links, n_chars) via one
    Arrow mapInPandas pass — null html yields a null row (a failed
    upstream fetch is not a failed extraction)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [], "title": [], "text": [],
                "n_links": [], "n_chars": [],
            }
            for did, html in zip(pdf[id_col], pdf[html_col]):
                out["doc_id"].append(did)
                if html is None:
                    out["title"].append(None)
                    out["text"].append(None)
                    out["n_links"].append(None)
                    out["n_chars"].append(None)
                    continue
                title, text, n_links = html_to_text(str(html))
                out["title"].append(title)
                out["text"].append(text)
                out["n_links"].append(n_links)
                out["n_chars"].append(len(text))
            yield pd.DataFrame(out)

    return df.select(id_col, html_col).mapInPandas(
        batches, WEB_TEXT_SCHEMA
    )


def html_links(html: str) -> list[str]:
    """Visible anchor hrefs in document order (same visibility
    condition as the text contract — the out-edge list the crawl link
    graph is built from)."""
    p = _TextExtractor()
    p.feed(html)
    p.close()
    return p.hrefs


WEB_LINKS_SCHEMA = "doc_id long, href string"
WEB_LINKS_RESOLVED_SCHEMA = "doc_id long, href string, url string"


def extract_web_links(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "text",
    base_col: str | None = None,
) -> DataFrame:
    """(id, html) → one row per visible anchor (doc_id, href) via one
    Arrow mapInPandas pass — the link-graph edge list feeding
    PageRank/out-degree analyses and the crawl frontier. Null html
    yields no rows (a failed fetch has no out-edges).

    ``base_col`` (the page's own URL, e.g. warc_target_uri) adds a
    ``url`` column with the href resolved against it per RFC 3986
    (stdlib ``urljoin``: absolute pass-through, protocol-relative,
    root-relative, relative with dot-segment removal) — the form the
    frontier's normalize/robots/dedup stages consume. Resolution runs
    inside the SAME kernel: the extraction is already in Python, so
    exact RFC reference resolution is free here and would be a regex
    swamp in Catalyst."""
    from urllib.parse import urljoin

    cols = [id_col, html_col] + ([base_col] if base_col else [])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {"doc_id": [], "href": []}
            if base_col:
                out["url"] = []
            bases = pdf[base_col] if base_col else None
            for row_i, (did, html) in enumerate(
                zip(pdf[id_col], pdf[html_col])
            ):
                if html is None:
                    continue
                for href in html_links(str(html)):
                    out["doc_id"].append(did)
                    out["href"].append(href)
                    if base_col:
                        base = bases.iloc[row_i]
                        out["url"].append(
                            urljoin(str(base), href)
                            if base is not None
                            else href
                        )
            yield pd.DataFrame(out)

    return df.select(*cols).mapInPandas(
        batches,
        WEB_LINKS_RESOLVED_SCHEMA if base_col else WEB_LINKS_SCHEMA,
    )


class _MetaExtractor(HTMLParser):
    """<head> metadata: the curation signals a crawl keeps alongside
    the text — first meta description/keywords, the rel=canonical
    target (the dedup signal sites themselves publish), og:title.
    Void elements, so start tags are enough; first occurrence wins
    (browser behavior for duplicated meta)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.fields: dict[str, str] = {}

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "meta":
            name = (a.get("name") or a.get("property") or "").lower()
            content = a.get("content")
            if content is None:
                return
            if name in ("description", "keywords"):
                self.fields.setdefault(name, content)
            elif name == "og:title":
                self.fields.setdefault("og_title", content)
        elif tag == "link":
            rels = (a.get("rel") or "").lower().split()
            if "canonical" in rels and a.get("href"):
                self.fields.setdefault("canonical", a["href"])


def html_page_meta(html: str) -> dict[str, str | None]:
    p = _MetaExtractor()
    p.feed(html)
    p.close()
    return {
        k: p.fields.get(k)
        for k in ("description", "keywords", "canonical", "og_title")
    }


PAGE_META_SCHEMA = (
    "doc_id long, title string, description string, keywords string, "
    "canonical string, og_title string"
)


def extract_page_meta(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "text"
) -> DataFrame:
    """(id, html) → head-metadata row per page. ``canonical`` is the
    site-declared dedup key: group on coalesce(canonical, own URL)
    downstream and the crawl keeps one row per canonical target."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                k: []
                for k in ("doc_id", "title", "description", "keywords",
                          "canonical", "og_title")
            }
            for did, html in zip(pdf[id_col], pdf[html_col]):
                out["doc_id"].append(did)
                if html is None:
                    for k in ("title", "description", "keywords",
                              "canonical", "og_title"):
                        out[k].append(None)
                    continue
                title, _, _ = html_to_text(str(html))
                meta = html_page_meta(str(html))
                out["title"].append(title)
                for k in ("description", "keywords", "canonical",
                          "og_title"):
                    out[k].append(meta[k])
            yield pd.DataFrame(out)

    return df.select(id_col, html_col).mapInPandas(
        batches, PAGE_META_SCHEMA
    )


_BLOCK_TAGS = {
    "p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6", "td",
    "article", "section", "blockquote", "pre",
}


class _BlockExtractor(HTMLParser):
    """Block-segmented visible text with per-block anchor-text share —
    the two features classic boilerplate removal (Arc90 readability /
    boilerpipe's link-density rule, Kohlschütter et al. WSDM'10) cuts
    on: navigation/footer blocks are short and almost entirely link
    text; body prose is long and link-sparse. Same visibility contract
    as _TextExtractor (script/style/noscript/template and <head> drop)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int]] = []  # (text, link_chars)
        self._parts: list[str] = []
        self._link_chars = 0
        self._skip_depth = 0
        self._in_head = 0
        self._anchor_depth = 0

    def _flush(self) -> None:
        text = " ".join(" ".join(self._parts).split())
        if text:
            self.blocks.append((text, self._link_chars))
        self._parts = []
        self._link_chars = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag == "head":
            self._in_head += 1
        elif tag in _BLOCK_TAGS:
            self._flush()
        elif tag == "a" and not self._skip_depth and not self._in_head:
            self._anchor_depth += 1

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS and self._skip_depth:
            self._skip_depth -= 1
        elif tag == "head" and self._in_head:
            self._in_head -= 1
        elif tag in _BLOCK_TAGS:
            self._flush()
        elif tag == "a" and self._anchor_depth:
            self._anchor_depth -= 1

    def handle_data(self, data):
        if self._skip_depth or self._in_head:
            return
        self._parts.append(data)
        if self._anchor_depth:
            self._link_chars += len(" ".join(data.split()))


def html_main_text(
    html: str, min_block_chars: int = 25, max_link_ratio: float = 0.5
) -> tuple[str, int, int]:
    """(main_text, n_blocks_kept, n_blocks_dropped): blocks shorter
    than ``min_block_chars`` or with anchor-text share >
    ``max_link_ratio`` drop (navigation, footers, tag clouds); the
    survivors join with newline in document order."""
    p = _BlockExtractor()
    p.feed(html)
    p.close()
    p._flush()
    kept = [
        text
        for text, link_chars in p.blocks
        if len(text) >= min_block_chars
        and (link_chars / len(text)) <= max_link_ratio
    ]
    return "\n".join(kept), len(kept), len(p.blocks) - len(kept)


MAIN_TEXT_SCHEMA = (
    "doc_id long, main_text string, n_blocks_kept int, "
    "n_blocks_dropped int, n_chars long"
)


def extract_main_text(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "text",
) -> DataFrame:
    """Boilerplate-aware main-content extraction via one Arrow pass —
    what a production crawl feeds the text pipeline instead of the
    naive all-visible-text (which trains the model on cookie banners
    and nav bars). Null html yields a null row."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                k: []
                for k in ("doc_id", "main_text", "n_blocks_kept",
                          "n_blocks_dropped", "n_chars")
            }
            for did, html in zip(pdf[id_col], pdf[html_col]):
                out["doc_id"].append(did)
                if html is None:
                    for k in ("main_text", "n_blocks_kept",
                              "n_blocks_dropped", "n_chars"):
                        out[k].append(None)
                    continue
                text, kept, dropped = html_main_text(str(html))
                out["main_text"].append(text)
                out["n_blocks_kept"].append(kept)
                out["n_blocks_dropped"].append(dropped)
                out["n_chars"].append(len(text))
            yield pd.DataFrame(out)

    return df.select(id_col, html_col).mapInPandas(
        batches, MAIN_TEXT_SCHEMA
    )


def anchor_text_profile(edges: DataFrame) -> DataFrame:
    """Anchor-text aggregation per link TARGET (r14) — the classic
    crawl quality/relevance signal: what the web calls a page. Input
    is any link edge list (``extract_web_links`` with a base column,
    ``warc.wat_links``); output one row per target:
    (url, n_inlinks, n_anchors, top_anchor, top_anchor_count).

    Plan, 100 TB-safe: two stacked hash aggregations on the SAME key
    prefix — (url, anchor) counts, then per-url max_by on the
    (count, anchor) struct (deterministic: ties break toward the
    lexicographically greatest anchor) — no window, no Python, and the
    second shuffle reuses the first's url partitioning."""
    per = (
        edges.select(
            F.col("url"),
            F.coalesce(F.col("anchor_text"), F.lit("")).alias("__anchor"),
        )
        .groupBy("url", "__anchor")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return per.groupBy("url").agg(
        F.sum("__n").cast("bigint").alias("n_inlinks"),
        F.count(F.lit(1)).cast("int").alias("n_anchors"),
        F.max_by(
            F.col("__anchor"), F.struct(F.col("__n"), F.col("__anchor"))
        ).alias("top_anchor"),
        F.max("__n").cast("bigint").alias("top_anchor_count"),
    )
