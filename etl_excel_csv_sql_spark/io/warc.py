"""WARC (Web ARChive, ISO 28500) — the container a real 100 TB text
corpus actually arrives in: Common Crawl publishes ~90k WARC files per
monthly snapshot, each ~1 GB of gzip members, one member per record.

Read path, Spark-first: ``spark.read.format("binaryFile")`` lists and
distributes the FILES (WARC.gz is a chain of per-record gzip members —
not block-splittable, so the file is the parallelism unit, exactly how
Common Crawl sizes its segments), then one Arrow ``mapInPandas`` pass
parses records executor-side: WARC header block (named fields,
case-insensitive, CRLF-framed), exact ``Content-Length`` body read, and
for ``response`` records the embedded HTTP/1.x status line + headers.
No Python object ever round-trips through the driver; a 1000-executor
cluster reads 90k files as 90k independent tasks.

Memory contract (r14): parsing is a GENERATOR over a streaming inflate —
the gzip member chain decompresses in ~1 MiB slices into a front-
compacted buffer and each record's body is released as soon as its row
is emitted. Lenient mode is VALIDATE-THEN-EMIT: a first pass re-parses
the file (records + embedded HTTP, the only ValueError surfaces)
holding one record at a time, then a clean file streams rows out with
mid-file frame flushes — so peak RSS per task is O(one record + the
32M-char frame bound) and INDEPENDENT of file size (the r13 shape
buffered a whole file's decoded text before first emit; the r12 shape
held ~2x the inflated bytes).

Text contract (r13): ``text`` is the FULL decoded HTTP body (no
truncation) with charset-aware decode — the embedded HTTP Content-Type
``charset=`` parameter wins, else a ``<meta charset>`` /
``<meta http-equiv="Content-Type">`` sniff over the first 4 KiB, else a
BOM, else UTF-8-with-replacement. Real crawls are 10-15% legacy
encodings (windows-125x, shift_jis, gbk); hardwired UTF-8 feeds
mojibake into lang-ID and dedup. ``text_head`` stays as the cheap
preview column; ``charset``/``charset_source`` record what decoded it.

Quarantine contract matches the media codecs: a malformed record
(bad version line, missing Content-Length, truncated body, broken gzip
member, malformed embedded HTTP status) raises ValueError — lenient
mode quarantines the whole FILE to one null sentinel row rather than
killing the batch, strict raises. Commit is file-atomic: a file whose
Nth record is malformed contributes NO rows for records 0..N-1 (r12
double-counted such files as both partially ingested and quarantined).

Cited reference scope: the reference engine reads CSV/Excel/SQL only
(SURVEY §2.1); WARC is the LLM-pipeline superset's crawl-ingest lane,
next to the jsonl/fixed-width/ORC sources.
"""

from __future__ import annotations

import codecs as _codecs
import re
import zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

_CRLF = b"\r\n"
TEXT_HEAD_CHARS = 120
_INFLATE_CHUNK = 1 << 20
# flush an output frame once the buffered rows carry this much text —
# keeps the Arrow batch hand-off bounded even for multi-GB inputs
_FRAME_CHARS = 32 << 20
_META_SNIFF_BYTES = 4096

_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?([A-Za-z0-9_.:-]+)""", re.I
)
_HEADER_CHARSET_RE = re.compile(r"charset\s*=\s*\"?([A-Za-z0-9_.:-]+)", re.I)


def _inflate_chunks(payload: bytes) -> Iterator[bytes]:
    """Decompress a chain of gzip members (the WARC.gz layout: one
    member per record) in bounded slices. Non-gzip input passes through
    untouched; a truncated/corrupt member raises ValueError."""
    if payload[:2] != b"\x1f\x8b":
        yield payload
        return
    view = memoryview(payload)
    pos = 0
    n = len(payload)
    while pos < n:
        d = zlib.decompressobj(47)
        while not d.eof:
            if pos >= n:
                raise ValueError("truncated gzip member in WARC.gz chain")
            piece = view[pos : pos + _INFLATE_CHUNK]
            pos += len(piece)
            try:
                out = d.decompress(piece)
            except zlib.error as exc:
                raise ValueError(f"corrupt gzip member in WARC.gz: {exc}")
            if out:
                yield out
        # bytes fed past the member end belong to the next member
        pos -= len(d.unused_data)


def iter_warc_records(payload: bytes) -> Iterator[dict]:
    """WARC bytes (plain or gzip-member chain) → record dicts
    ``warc_type target_uri warc_date content_type content_length body``,
    one at a time over a front-compacted buffer (peak RSS ~ one record,
    not the whole file). Exact Content-Length framing — bodies may
    contain anything, including things that look like record
    boundaries."""
    chunks = _inflate_chunks(payload)
    buf = bytearray()
    done = False

    def more() -> bool:
        nonlocal done
        if done:
            return False
        try:
            buf.extend(next(chunks))
            return True
        except StopIteration:
            done = True
            return False

    def find_crlf(start: int) -> int:
        while True:
            i = buf.find(_CRLF, start)
            if i >= 0:
                return i
            start = max(start, len(buf) - 1)
            if not more():
                return -1

    def ensure(nbytes: int) -> bool:
        while len(buf) < nbytes:
            if not more():
                return False
        return True

    emitted = False
    while True:
        # skip inter-record blank lines at the front
        while True:
            if not ensure(2):
                break
            if buf[:2] == _CRLF:
                del buf[:2]
            else:
                break
        if not buf and done:
            break
        eol = find_crlf(0)
        if eol < 0:
            raise ValueError("WARC version line not CRLF-terminated")
        if not buf[:eol].startswith(b"WARC/"):
            raise ValueError("expected WARC/x.y version line")
        pos = eol + 2
        fields: dict[str, str] = {}
        while True:
            eol = find_crlf(pos)
            if eol < 0:
                raise ValueError("WARC header block not terminated")
            line = bytes(buf[pos:eol])
            pos = eol + 2
            if not line:
                break
            name, sep, value = line.partition(b":")
            if not sep:
                raise ValueError(f"malformed WARC header line {line!r}")
            fields[name.strip().lower().decode("ascii")] = (
                value.strip().decode("utf-8", "replace")
            )
        try:
            length = int(fields["content-length"])
        except (KeyError, ValueError):
            raise ValueError("WARC record missing a valid Content-Length")
        if length < 0 or not ensure(pos + length + 4):
            raise ValueError("WARC record body overruns payload")
        body = bytes(buf[pos : pos + length])
        pos += length
        if buf[pos : pos + 4] != _CRLF + _CRLF:
            raise ValueError("WARC record not followed by CRLF CRLF")
        # release consumed bytes BEFORE yielding: the caller may hold
        # the record while the next chunk inflates
        del buf[: pos + 4]
        emitted = True
        yield {
            "warc_type": fields.get("warc-type"),
            "target_uri": fields.get("warc-target-uri"),
            "warc_date": fields.get("warc-date"),
            "content_type": fields.get("content-type"),
            "content_length": length,
            "body": body,
        }
    if not emitted:
        raise ValueError("WARC payload has no records")


def parse_warc(payload: bytes) -> list[dict]:
    """Materialized ``iter_warc_records`` — the fixture/test surface.
    The Spark reader consumes the generator directly so a ~1 GB
    .warc.gz never holds all bodies at once."""
    return list(iter_warc_records(payload))


def _dechunk(data: bytes) -> bytes:
    """RFC 9112 §7.1 chunked transfer decoding: hex-size line (chunk
    extensions after ';' ignored), exact-size chunk, CRLF, until the
    zero chunk; trailer fields after the last chunk are dropped. Any
    framing violation raises ValueError into the quarantine lane —
    crawls archive responses AS SENT, so chunked bodies are common in
    real WARC files and a reader that returned the raw framing would
    feed chunk-size lines into the text pipeline."""
    out = bytearray()
    pos = 0
    n = len(data)
    while True:
        eol = data.find(_CRLF, pos)
        if eol < 0:
            raise ValueError("chunk size line not CRLF-terminated")
        size_token = data[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_token, 16)
        except ValueError:
            raise ValueError(f"non-hex chunk size {size_token!r}")
        if size < 0:
            raise ValueError("negative chunk size")
        pos = eol + 2
        if size == 0:
            # optional trailer section: ignore through the end
            return bytes(out)
        if pos + size + 2 > n:
            raise ValueError("chunk overruns the HTTP body")
        out += data[pos : pos + size]
        pos += size
        if data[pos : pos + 2] != _CRLF:
            raise ValueError("chunk data not CRLF-terminated")
        pos += 2


MAX_HTTP_BODY_BYTES = 64 << 20  # decompression-bomb guard per body


def _decode_content_encoding(headers: dict[str, str], body: bytes) -> bytes:
    """``Content-Encoding`` decode (r14): gzip and deflate inflate with
    the bomb guard + the completeness (final-block) check; ``deflate``
    tolerates both the correct zlib wrapper and the raw-deflate form
    broken origins send (RFC 9110 §8.4.1.2 note). Unknown codings
    (br, zstd) raise into the quarantine lane — silently decoding a
    brotli body as text would feed garbage to lang-ID and dedup, which
    is strictly worse than a quarantined row."""
    ce = headers.get("content-encoding", "").strip().lower()
    if not ce or ce == "identity" or not body:
        return body
    if ce == "gzip" or ce == "x-gzip":
        wbits_options = (47,)
    elif ce == "deflate":
        wbits_options = (15, -15)
    else:
        raise ValueError(f"unsupported Content-Encoding {ce!r}")
    last_exc: Exception | None = None
    for wbits in wbits_options:
        d = zlib.decompressobj(wbits)
        try:
            out = d.decompress(body, MAX_HTTP_BODY_BYTES + 1)
        except zlib.error as exc:
            last_exc = exc
            continue
        if len(out) > MAX_HTTP_BODY_BYTES:
            raise ValueError("HTTP body exceeds the inflate guard")
        if not d.eof:
            raise ValueError(
                "truncated compressed HTTP body (no final block)"
            )
        return out
    raise ValueError(f"corrupt {ce} HTTP body: {last_exc}")


def http_response_parts(body: bytes) -> tuple[int, dict[str, str], bytes]:
    """(status_code, headers, http_body) from an embedded HTTP/1.x
    response (the payload of a WARC ``response`` record with
    ``application/http`` content type). Header names lowercase;
    duplicate headers keep the first value (charset detection only
    reads Content-Type, and RFC 9110 makes duplicates of it invalid).
    A ``Transfer-Encoding: chunked`` body de-chunks and a
    ``Content-Encoding: gzip``/``deflate`` body inflates (r14) —
    crawls store responses as sent over the wire."""
    eol = body.find(_CRLF)
    if eol < 0:
        raise ValueError("HTTP status line not CRLF-terminated")
    parts = body[:eol].split(b" ", 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"malformed HTTP status line {body[:eol]!r}")
    try:
        status = int(parts[1])
    except ValueError:
        raise ValueError(f"non-integer HTTP status {parts[1]!r}")
    sep = body.find(_CRLF + _CRLF, eol)
    if sep < 0:
        raise ValueError("HTTP header block not terminated")
    headers: dict[str, str] = {}
    for line in body[eol + 2 : sep].split(_CRLF):
        name, hsep, value = line.partition(b":")
        if hsep:
            headers.setdefault(
                name.strip().lower().decode("ascii", "replace"),
                value.strip().decode("utf-8", "replace"),
            )
    http_body = body[sep + 4 :]
    te = headers.get("transfer-encoding", "")
    if "chunked" in te.lower():
        http_body = _dechunk(http_body)
    http_body = _decode_content_encoding(headers, http_body)
    return status, headers, http_body


def http_response_fields(body: bytes) -> tuple[int, bytes]:
    """(status_code, http_body) — the r12 surface, kept for callers
    that don't need headers."""
    status, _, http_body = http_response_parts(body)
    return status, http_body


def _normalize_charset(label: str) -> str | None:
    """A declared charset label → Python codec name, None if unknown
    (unknown labels fall through to the next detection source; real
    crawls declare plenty of garbage like charset=none)."""
    try:
        return _codecs.lookup(label).name
    except LookupError:
        return None


def decode_body_text(
    headers: dict[str, str], body: bytes
) -> tuple[str, str, str]:
    """(charset, source, text): charset-aware decode of a text body,
    stripping the UTF-8 BOM when the BOM itself was the signal (the
    char is an encoding artifact, not document text; the utf-16 codec
    consumes its own BOM)."""
    charset, source = detect_charset(headers, body)
    if source == "bom" and charset == "utf-8":
        body = body[3:]
    return charset, source, body.decode(charset, "replace")


def detect_charset(
    headers: dict[str, str], http_body: bytes
) -> tuple[str, str]:
    """(codec_name, source) for an HTTP body per the WHATWG-ish
    precedence real browsers use: Content-Type header charset, else
    ``<meta charset>`` / ``<meta http-equiv>`` sniff over the first
    4 KiB, else a Unicode BOM, else UTF-8. source is one of
    ``header meta bom default``."""
    ctype = headers.get("content-type", "")
    m = _HEADER_CHARSET_RE.search(ctype)
    if m:
        name = _normalize_charset(m.group(1))
        if name:
            return name, "header"
    m = _META_CHARSET_RE.search(http_body[:_META_SNIFF_BYTES])
    if m:
        name = _normalize_charset(m.group(1).decode("ascii", "replace"))
        if name:
            return name, "meta"
    if http_body[:3] == b"\xef\xbb\xbf":
        return "utf-8", "bom"
    if http_body[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16", "bom"
    return "utf-8", "default"


WARC_SCHEMA = (
    "file string, record_idx int, warc_type string, target_uri string, "
    "warc_date string, content_type string, http_status int, "
    "n_body_bytes long, charset string, charset_source string, "
    "text string, text_head string, quarantine_reason string"
)
_WARC_COLS = tuple(f.split(" ")[0] for f in WARC_SCHEMA.split(", "))

# Quarantine-reason taxonomy (r15, VERDICT r14 #8): lenient mode's
# file sentinel row carries a COUNTABLE class in `quarantine_reason`
# (null on every good row), so a crawl operator can measure loss
# rates per cause — in particular the brotli fence
# (content_encoding_unsupported: pure-stdlib Python has no brotli, so
# `br` bodies quarantine BY DESIGN and their rate must be visible)
# versus genuinely corrupt data. Ordered first-match over the
# ValueError messages this module raises; the malformed battery pins
# message → class.
_QUARANTINE_CLASSES = (
    ("unsupported Content-Encoding", "content_encoding_unsupported"),
    ("truncated compressed HTTP body", "content_encoding_truncated"),
    ("HTTP body: ", "content_encoding_corrupt"),
    ("inflate guard", "inflate_guard"),
    ("chunk", "http_chunked_framing"),
    ("HTTP", "http_framing"),
    ("gzip member", "gzip_member"),
    ("WARC", "warc_framing"),
)


def _quarantine_class(msg: str) -> str:
    for needle, cls in _QUARANTINE_CLASSES:
        if needle in msg:
            return cls
    return "other"


def _validate_warc_file(content: bytes) -> None:
    """Pass 1 of the lenient two-pass: walk every record AND every
    embedded HTTP parse — exactly the surfaces that can raise
    ValueError — while retaining nothing (peak RSS ~ one record).
    Charset detection and decode use errors='replace' and cannot
    raise, so they are pass-2-only work."""
    for rec in iter_warc_records(content):
        if rec["warc_type"] == "response" and (
            rec["content_type"] or ""
        ).startswith("application/http"):
            http_response_parts(rec["body"])
        rec["body"] = None


def _file_rows(file, content: bytes) -> Iterator[tuple[tuple, int]]:
    """One file's (row_tuple, text_chars) stream — shared by strict
    and (post-validation) lenient emit."""
    for idx, rec in enumerate(iter_warc_records(content)):
        status = charset = source = text = head = None
        chars = 0
        nbytes = rec["content_length"]
        if rec["warc_type"] == "response" and (
            rec["content_type"] or ""
        ).startswith("application/http"):
            status, headers, http_body = http_response_parts(rec["body"])
            nbytes = len(http_body)
            charset, source, text = decode_body_text(headers, http_body)
            head = text[:TEXT_HEAD_CHARS]
            chars = len(text)
        elif rec["warc_type"] == "conversion" and (
            rec["content_type"] or ""
        ).startswith("text/"):
            # WET layout: extracted text as conversion records
            # (text/plain, no HTTP wrapper)
            charset, source, text = decode_body_text(
                {"content-type": rec["content_type"]}, rec["body"]
            )
            head = text[:TEXT_HEAD_CHARS]
            chars = len(text)
        elif rec["warc_type"] == "metadata" and (
            rec["content_type"] or ""
        ).startswith("application/json"):
            # WAT layout (r14): page metadata as JSON envelope records
            # — JSON is UTF-8 by RFC 8259, decoded here so the Spark
            # side can from_json the text column
            charset, source = "utf-8", "default"
            text = rec["body"].decode("utf-8", "replace")
            head = text[:TEXT_HEAD_CHARS]
            chars = len(text)
        rec["body"] = None  # release before next record
        yield (
            (
                file, idx, rec["warc_type"], rec["target_uri"],
                rec["warc_date"], rec["content_type"], status, nbytes,
                charset, source, text, head, None,
            ),
            chars,
        )


def _record_batches(strict: bool):
    """The Arrow kernel behind both the batch and the streaming reader
    — one closure so the two paths can never drift.

    Memory contract (r14, VERDICT r13 #5): lenient mode is VALIDATE-
    THEN-EMIT — pass 1 re-parses the whole file (records + embedded
    HTTP) holding one record at a time; only a file that validated
    clean re-parses in pass 2, which streams rows straight into the
    frame buffer and may flush MID-FILE. File-atomic quarantine is
    preserved (a malformed Nth record yields only the sentinel, never
    rows 0..N-1) while peak RSS drops from O(file text) — the r13
    shape buffered every decoded body of a file before first emit —
    to O(record + frame flush bound). The price is a second inflate +
    header parse per file (decode/charset work is pass-2-only);
    inflate runs ~400 MB/s warm, so CPU cost is small against the
    Python decode that dominates either way."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: dict[str, list] = {k: [] for k in _WARC_COLS}
        buffered_chars = 0

        def frame():
            nonlocal rows, buffered_chars
            out = pd.DataFrame(rows)
            rows = {k: [] for k in _WARC_COLS}
            buffered_chars = 0
            return out

        def append(row: tuple) -> None:
            for k, v in zip(_WARC_COLS, row):
                rows[k].append(v)

        for pdf in it:
            for file, content in zip(pdf["path"], pdf["content"]):
                content = bytes(content)
                if not strict:
                    try:
                        _validate_warc_file(content)
                    except ValueError as exc:
                        append(
                            (file,)
                            + (None,) * (len(_WARC_COLS) - 2)
                            + (_quarantine_class(str(exc)),)
                        )
                        continue
                # strict raises straight through (the job dies, no
                # partial commit); lenient is pre-validated so this
                # pass cannot raise
                for row, chars in _file_rows(file, content):
                    append(row)
                    buffered_chars += chars
                    if buffered_chars >= _FRAME_CHARS:
                        yield frame()
        yield frame()

    return batches


def read_warc(spark: SparkSession, path_glob: str, strict: bool = False) -> DataFrame:
    """WARC/WARC.gz files → one row per record. For ``response``
    records carrying an embedded HTTP response, ``http_status``,
    ``charset``/``charset_source`` (see ``detect_charset``), ``text``
    (FULL decoded body, charset-aware, errors=replace) and
    ``text_head`` (first ``TEXT_HEAD_CHARS`` chars of ``text``) are
    populated; ``conversion`` records with a text/* Content-Type (the
    WET layout) decode the same way; other record types leave them
    null. ``n_body_bytes`` is the HTTP body size for responses, else
    the record Content-Length. Lenient mode quarantines a malformed
    FILE to one null sentinel row — file-atomic: no partial rows from
    before the malformed record — whose ``quarantine_reason`` carries
    the loss class (r15: see ``_QUARANTINE_CLASSES`` — e.g. the
    brotli fence surfaces as ``content_encoding_unsupported``, a
    countable by-design loss, distinct from corrupt data)."""
    binary = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )
    return binary.mapInPandas(_record_batches(strict), WARC_SCHEMA)


def stream_warc(
    spark: SparkSession,
    drop_dir: str,
    strict: bool = False,
    path_glob: str = "*.warc*",
    archive_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The STREAMING twin of :func:`read_warc` — a continuous crawl
    lands segment files into a drop folder and this consumes each file
    exactly once (the checkpoint tracks processed paths), through the
    SAME Arrow kernel, so batch and streaming rows are identical by
    construction. ``archive_dir`` moves consumed files after their
    batch commits (cleanSource=archive — the folder-queue lifecycle
    with engine-managed commit ordering); ``max_files_per_trigger``
    bounds batch size for steady-state ingestion."""
    # streaming file sources require an explicit schema; binaryFile's
    # is fixed (spark.apache.org/docs: binary file data source)
    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", path_glob)
    )
    if archive_dir is not None:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    binary = reader.load(drop_dir).select("path", "content")
    return binary.mapInPandas(_record_batches(strict), WARC_SCHEMA)


def encode_warc(records: list[dict], gzip_members: bool = False) -> bytes:
    """Fixture writer: a warcinfo header record plus one ``response``
    record per input dict (``uri``, ``status``, ``body_text``, optional
    ``date``, optional ``http_content_type`` for the embedded HTTP
    Content-Type header, optional ``body_bytes`` to plant a non-UTF-8
    encoded body verbatim) — byte-exact WARC/1.0 framing; gzip_members
    emits the Common Crawl one-member-per-record layout."""

    def record(rtype: str, fields: dict, body: bytes) -> bytes:
        head = [b"WARC/1.0"]
        head.append(f"WARC-Type: {rtype}".encode())
        for k, v in fields.items():
            head.append(f"{k}: {v}".encode())
        head.append(f"Content-Length: {len(body)}".encode())
        raw = _CRLF.join(head) + _CRLF + _CRLF + body + _CRLF + _CRLF
        if gzip_members:
            co = zlib.compressobj(6, zlib.DEFLATED, 31)
            return co.compress(raw) + co.flush()
        return raw

    out = bytearray()
    out += record(
        "warcinfo",
        {"Content-Type": "application/warc-fields",
         "WARC-Date": "2026-01-01T00:00:00Z"},
        b"software: etl-excel-csv-sql-spark\r\n",
    )
    for r in records:
        body = r.get("body_bytes")
        if body is None:
            body = r["body_text"].encode()
        ctype = r.get("http_content_type", "text/plain")
        if r.get("record_type") == "metadata":
            # the WAT layout: a JSON envelope describing another record
            out += record(
                "metadata",
                {
                    "WARC-Target-URI": r["uri"],
                    "WARC-Date": r.get("date", "2026-01-01T00:00:00Z"),
                    "Content-Type": "application/json",
                },
                body,
            )
            continue
        if r.get("record_type") == "conversion":
            # the WET layout: extracted text, no HTTP wrapper
            out += record(
                "conversion",
                {
                    "WARC-Target-URI": r["uri"],
                    "WARC-Date": r.get("date", "2026-01-01T00:00:00Z"),
                    "Content-Type": ctype,
                },
                body,
            )
            continue
        ce_header = b""
        ce = r.get("content_encoding")
        if ce == "gzip":
            co = zlib.compressobj(6, zlib.DEFLATED, 31)
            body = co.compress(body) + co.flush()
            ce_header = b"Content-Encoding: gzip\r\n"
        elif ce == "deflate":
            body = zlib.compress(body, 6)
            ce_header = b"Content-Encoding: deflate\r\n"
        elif ce == "deflate-raw":
            # the broken-origin form: raw deflate, no zlib wrapper
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            body = co.compress(body) + co.flush()
            ce_header = b"Content-Encoding: deflate\r\n"
        elif ce:
            ce_header = f"Content-Encoding: {ce}\r\n".encode()
        if r.get("chunked"):
            # wire-format chunked body (RFC 9112 §7.1) — how many real
            # origins actually send, and how crawls archive it; chunk
            # extension + trailer lanes exercise the tolerant paths
            size = int(r.get("chunk_size", 16))
            wire = bytearray()
            for off in range(0, len(body), size):
                piece = body[off : off + size]
                ext = b";ext=1" if r.get("chunk_ext") and off == 0 else b""
                wire += b"%x" % len(piece) + ext + _CRLF + piece + _CRLF
            wire += b"0" + _CRLF
            if r.get("trailer"):
                wire += b"X-Trailer: t" + _CRLF
            wire += _CRLF
            http = (
                f"HTTP/1.1 {r['status']} "
                f"{'OK' if r['status'] == 200 else 'NOT-OK'}\r\n"
                f"Content-Type: {ctype}\r\n"
            ).encode() + ce_header + (
                b"Transfer-Encoding: chunked\r\n\r\n"
            ) + bytes(wire)
        else:
            http = (
                f"HTTP/1.1 {r['status']} "
                f"{'OK' if r['status'] == 200 else 'NOT-OK'}\r\n"
                f"Content-Type: {ctype}\r\n"
            ).encode() + ce_header + (
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode() + body
        out += record(
            "response",
            {
                "WARC-Target-URI": r["uri"],
                "WARC-Date": r.get("date", "2026-01-01T00:00:00Z"),
                "Content-Type": "application/http; msgtype=response",
            },
            http,
        )
    return bytes(out)


# --- WAT: Common Crawl's page-metadata artifact (r14, VERDICT #7) ---
#
# A WAT file is itself a WARC container whose records are
# ``metadata`` + application/json: one JSON "Envelope" per crawled
# page carrying the WARC headers, the parsed <head> (title, metas),
# and the outgoing links — Common Crawl's third artifact next to WARC
# (raw) and WET (extracted text). Reading reuses the SAME record
# kernel (file = task, per-record gzip members); the JSON shapes into
# columns with Spark's from_json — no custom parser, Catalyst prunes
# the envelope fields the query doesn't touch.


def encode_wat(pages: list[dict]) -> bytes:
    """Fixture writer: one WAT ``metadata`` record per page dict
    (``uri``; optional ``title``, ``links`` [{url, text}], ``metas``
    [{name, content}]) in the Common Crawl envelope shape."""
    import json as _json

    recs = []
    for p in pages:
        env = {
            "Envelope": {
                "WARC-Header-Metadata": {
                    "WARC-Target-URI": p["uri"],
                    "WARC-Type": "response",
                },
                "Payload-Metadata": {
                    "HTTP-Response-Metadata": {
                        "HTML-Metadata": {
                            "Head": {
                                "Title": p.get("title"),
                                "Metas": p.get("metas", []),
                            },
                            "Links": [
                                {
                                    "path": "A@/href",
                                    "url": l.get("url"),
                                    "text": l.get("text"),
                                }
                                for l in p.get("links", [])
                            ],
                        }
                    }
                },
            }
        }
        recs.append({
            "record_type": "metadata",
            "uri": p["uri"],
            "body_bytes": _json.dumps(env).encode(),
        })
    return encode_warc(recs, gzip_members=True)


def _wat_schema():
    from pyspark.sql import types as T

    link = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    meta = T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("content", T.StringType()),
    ])
    return T.StructType([T.StructField("Envelope", T.StructType([
        T.StructField("WARC-Header-Metadata", T.StructType([
            T.StructField("WARC-Target-URI", T.StringType()),
            T.StructField("WARC-Type", T.StringType()),
        ])),
        T.StructField("Payload-Metadata", T.StructType([
            T.StructField("HTTP-Response-Metadata", T.StructType([
                T.StructField("HTML-Metadata", T.StructType([
                    T.StructField("Head", T.StructType([
                        T.StructField("Title", T.StringType()),
                        T.StructField("Metas", T.ArrayType(meta)),
                    ])),
                    T.StructField("Links", T.ArrayType(link)),
                ])),
            ])),
        ])),
    ]))])


def parse_wat_metadata(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``read_warc`` output (WAT file) → one row per page with the
    envelope shaped into columns: ``page_uri title metas links``
    (arrays stay nested here — the catalog/link helpers below flatten
    them for driver-hashable output). Non-metadata rows (warcinfo,
    the null sentinel of a quarantined file) drop on warc_type.
    A metadata record whose body is NOT valid envelope JSON surfaces
    as an all-null row (``from_json``'s PERMISSIVE null) rather than
    failing the batch — filter ``page_uri IS NOT NULL`` downstream to
    drop such records; the WARC framing itself was still valid, so
    file-level quarantine would be wrong here."""
    from pyspark.sql import functions as F

    j = F.from_json(F.col(text_col), _wat_schema())
    html = (
        j["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"]
        ["HTML-Metadata"]
    )
    return df.filter(F.col("warc_type") == "metadata").select(
        j["Envelope"]["WARC-Header-Metadata"]["WARC-Target-URI"]
        .alias("page_uri"),
        html["Head"]["Title"].alias("title"),
        html["Head"]["Metas"].alias("metas"),
        html["Links"].alias("links"),
    )


def wat_page_catalog(df: DataFrame) -> DataFrame:
    """Scalar per-page WAT catalog: (page_uri, title, n_links,
    n_metas, first_link_url) — the driver-hashable surface."""
    from pyspark.sql import functions as F

    pages = parse_wat_metadata(df, "text")
    return pages.select(
        "page_uri",
        "title",
        F.coalesce(F.size("links"), F.lit(0)).cast("int").alias("n_links"),
        F.coalesce(F.size("metas"), F.lit(0)).cast("int").alias("n_metas"),
        # try_element_at: an empty links array must yield NULL, not the
        # ANSI out-of-bounds error plain element_at raises
        F.try_element_at(F.col("links"), F.lit(1))["url"]
        .alias("first_link_url"),
    )


def wat_links(df: DataFrame) -> DataFrame:
    """WAT link edges: (src, link_idx, url, anchor_text) — one row per
    outgoing link, position-preserving posexplode; joinable against
    the web_link_graph frame extracted from the raw WARC HTML."""
    from pyspark.sql import functions as F

    pages = parse_wat_metadata(df, "text")
    return pages.select(
        F.col("page_uri").alias("src"),
        F.posexplode("links").alias("link_idx", "l"),
    ).select(
        "src",
        F.col("link_idx").cast("int"),
        F.col("l")["url"].alias("url"),
        F.col("l")["text"].alias("anchor_text"),
    )


def encode_warc_with_index(
    records: list[dict],
) -> tuple[bytes, list[dict]]:
    """Fixture writer for the CDX lane: the gzip-member layout of
    ``encode_warc(gzip_members=True)`` PLUS the true per-record
    locator triple — one ``{"uri", "offset", "length"}`` per input
    record, pointing at its gzip member inside the returned payload
    (the warcinfo member leads and is unindexed, like the real
    cc-index). Offsets are byte-exact: a ranged read of
    ``payload[offset : offset + length]`` is one complete gzip
    member."""
    prefix = encode_warc([], gzip_members=True)
    payload = bytearray(prefix)
    entries: list[dict] = []
    for r in records:
        member = encode_warc([r], gzip_members=True)[len(prefix):]
        entries.append(
            {
                "uri": r["uri"],
                "offset": len(payload),
                "length": len(member),
            }
        )
        payload += member
    return bytes(payload), entries
