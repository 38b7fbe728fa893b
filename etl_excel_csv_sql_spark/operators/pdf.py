"""PDF text extraction — the document source beside web crawl text.
Pure stdlib in the same style as the media codecs: the object model is
parsed from bytes (header, classic xref table(s), trailer, indirect
objects, literal/hex strings, dicts/arrays/refs, streams with exact
/Length framing), page content streams are defiltered, and text
assembles from the Tj / TJ / ' / " show operators inside BT..ET
blocks.

Extraction contract, deterministic and oracle-friendly:

- pages walk the /Root → /Pages → /Kids tree in order (depth-capped);
- within a page, each show operator contributes one fragment: Tj / '
  take their string, " takes its string operand, TJ concatenates the
  STRING items of its array (kerning numbers are layout, not text);
- a page's text is its fragments joined with a single space;
- string bytes decode through the page font's /ToUnicode CMap or
  /Differences encoding when it has one, UTF-16BE when they carry a
  BOM, and latin-1 (byte-transparent) otherwise.

Both cross-reference layouts parse: classic xref tables with
incremental-update /Prev chains AND PDF 1.5+ cross-reference STREAMS
(/Type /XRef packed binary rows, /W field widths, /Index subsections,
hybrid-reference /XRefStm side-loads) with objects compressed into
object streams (/Type /ObjStm type-2 entries) — the layout
mass-produced real-world PDFs actually ship.

Filters: FlateDecode (zlib, with the PNG predictor family), LZWDecode
(MSB-first variable 9..12-bit codes, Clear/EOD, /EarlyChange, the same
predictor path), ASCIIHexDecode, ASCII85Decode and RunLengthDecode
decode, alone or as a /Filter chain; other filters raise into the
quarantine.

Encryption: the standard security handler's EMPTY-USER-PASSWORD path
decrypts — RC4 V=1/V=2, R=2/R=3 per spec Algorithms 2/4/5 (the bulk of
"encrypted" PDFs in a crawl are permissions-only encryption with an
empty user password). Strings and streams decrypt with the per-object
MD5(file_key + objnum + gen) key; xref/Encrypt material and
ObjStm-inner strings are exempt per spec. PDFs that actually need a
password, AES (/V >= 4 crypt filters), and non-Standard handlers raise
DISTINCT ValueError messages so quarantine loss is measurable by
class.

Scope fences (each raises ValueError → the quarantine lane):
password-protected/AES encryption and unknown filters are out of
scope; caps bound object count, xref chain length, page-tree
depth/size, and inflate output (decompression-bomb guard), so a
hostile payload degrades to a null row instead of an executor OOM.

Quarantine contract matches the media codecs: every malformed shape
surfaces as ValueError only — the lenient extraction kernel catches
exactly that; Spark surface is ``operators.multimodal.extract_pdf_text``.

Fixture writers: ``encode_pdf`` (classic or 1.5 layout, any content
filter chain), ``encode_pdf_unicode`` (CMap / Differences / UTF-16BE
fonts) and ``encode_pdf_encrypted`` (RC4, classic or ObjStm layout)
only render their pages and resources; one private serializer,
``_ObjectTable``, numbers the objects, writes the page tree and
catalog, runs the security-handler setup, seals encrypted strings and
streams, and emits the classic xref table or the XRef stream (with or
without an ObjStm, predictor 1 or 12).
"""

from __future__ import annotations

import hashlib
import re
import struct
import zlib

from etl_excel_csv_sql_spark.operators.codecs import _malformed_as_valueerror

MAX_OBJECTS = 100_000
MAX_XREF_SECTIONS = 64
MAX_PAGE_TREE_DEPTH = 32
MAX_PAGES = 50_000
MAX_CONTENT_BYTES = 64 << 20

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int) -> None:
        self.num = num

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Ref({self.num})"


class _Lexer:
    """Byte-level PDF token scanner. Position-based so object offsets
    from the xref table seek directly."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        data, n = self.data, len(self.data)
        while self.pos < n:
            c = self.data[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to EOL
                eol = data.find(b"\n", self.pos)
                self.pos = n if eol < 0 else eol + 1
            else:
                return

    def peek(self) -> int:
        self._skip_ws()
        if self.pos >= len(self.data):
            raise ValueError("unexpected end of PDF data")
        return self.data[self.pos]

    def keyword(self) -> str:
        """Bare token (obj, endobj, stream, R, Tj, true, ...)."""
        self._skip_ws()
        start = self.pos
        data, n = self.data, len(self.data)
        while self.pos < n and data[self.pos] not in _WS and data[
            self.pos
        ] not in _DELIM:
            self.pos += 1
        if self.pos == start:
            raise ValueError(
                f"expected PDF keyword at byte {start}"
            )
        return data[start : self.pos].decode("latin-1")

    def literal_string(self) -> bytes:
        """(...) with escapes and balanced nested parens."""
        data = self.data
        assert data[self.pos] == 0x28
        self.pos += 1
        out = bytearray()
        depth = 1
        n = len(data)
        while True:
            if self.pos >= n:
                raise ValueError("unterminated PDF literal string")
            c = data[self.pos]
            self.pos += 1
            if c == 0x5C:  # backslash
                if self.pos >= n:
                    raise ValueError("dangling escape in PDF string")
                e = data[self.pos]
                self.pos += 1
                if e in b"nrtbf":
                    out += {
                        0x6E: b"\n", 0x72: b"\r", 0x74: b"\t",
                        0x62: b"\b", 0x66: b"\f",
                    }[e]
                elif e in b"()\\":
                    out.append(e)
                elif 0x30 <= e <= 0x37:  # \ooo 1-3 octal digits
                    oct_digits = [e]
                    for _ in range(2):
                        if self.pos < n and 0x30 <= data[self.pos] <= 0x37:
                            oct_digits.append(data[self.pos])
                            self.pos += 1
                        else:
                            break
                    out.append(int(bytes(oct_digits), 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    if e == 0x0D and self.pos < n and data[self.pos] == 0x0A:
                        self.pos += 1
                else:  # unknown escape: the char itself (spec 7.3.4.2)
                    out.append(e)
            elif c == 0x28:
                depth += 1
                out.append(c)
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)

    def hex_string(self) -> bytes:
        data = self.data
        assert data[self.pos] == 0x3C
        self.pos += 1
        end = data.find(b">", self.pos)
        if end < 0:
            raise ValueError("unterminated PDF hex string")
        digits = bytes(
            c for c in data[self.pos : end] if c not in _WS
        ).decode("latin-1")
        self.pos = end + 1
        if len(digits) % 2:
            digits += "0"  # odd count: trailing zero (spec 7.3.4.3)
        try:
            return bytes.fromhex(digits)
        except ValueError:
            raise ValueError("non-hex digit in PDF hex string")

    def object(self, depth: int = 0):
        """One PDF object: dict, array, name, string, number, ref,
        bool, null. int-int-R lookahead collapses to _Ref."""
        if depth > 64:
            raise ValueError("PDF object nesting exceeds depth guard")
        c = self.peek()
        data = self.data
        if c == 0x3C:  # < — dict or hex string
            if data[self.pos : self.pos + 2] == b"<<":
                self.pos += 2
                d = {}
                while True:
                    if self.peek() == 0x3E:
                        if data[self.pos : self.pos + 2] != b">>":
                            raise ValueError("malformed PDF dict close")
                        self.pos += 2
                        return d
                    if self.peek() != 0x2F:
                        raise ValueError("PDF dict key must be a name")
                    key = self.object(depth + 1)
                    d[key] = self.object(depth + 1)
            return self.hex_string()
        if c == 0x28:
            self._skip_ws()
            return self.literal_string()
        if c == 0x2F:  # /Name
            self.pos += 1
            start = self.pos
            n = len(data)
            while self.pos < n and data[self.pos] not in _WS and data[
                self.pos
            ] not in _DELIM:
                self.pos += 1
            return data[start : self.pos].decode("latin-1")
        if c == 0x5B:  # [ array
            self.pos += 1
            arr = []
            while True:
                if self.peek() == 0x5D:
                    self.pos += 1
                    return arr
                arr.append(self.object(depth + 1))
        if c in b"+-.0123456789":
            return self._number_or_ref()
        kw = self.keyword()
        if kw == "true":
            return True
        if kw == "false":
            return False
        if kw == "null":
            return None
        raise ValueError(f"unexpected PDF token {kw!r}")

    def _number_or_ref(self):
        num = self._number()
        if isinstance(num, int) and num >= 0:
            save = self.pos
            try:
                gen = self._number()
                if isinstance(gen, int) and gen >= 0:
                    save2 = self.pos
                    if self.keyword() == "R":
                        return _Ref(num)
                    self.pos = save2
            except ValueError:
                pass
            self.pos = save
        return num

    def _number(self):
        self._skip_ws()
        data, n = self.data, len(self.data)
        start = self.pos
        if self.pos < n and data[self.pos] in b"+-":
            self.pos += 1
        seen_digit = seen_dot = False
        while self.pos < n:
            c = data[self.pos]
            if 0x30 <= c <= 0x39:
                seen_digit = True
                self.pos += 1
            elif c == 0x2E and not seen_dot:
                seen_dot = True
                self.pos += 1
            else:
                break
        if not seen_digit:
            self.pos = start
            raise ValueError(f"expected PDF number at byte {start}")
        tok = data[start : self.pos].decode("latin-1")
        return float(tok) if seen_dot else int(tok)


class _Document:
    def __init__(self, data: bytes) -> None:
        if not data.startswith(b"%PDF-"):
            raise ValueError("missing %PDF- header")
        self.data = data
        eol = data.find(b"\n", 0, 32)
        self.version = (
            data[5 : eol if eol > 0 else 8]
            .rstrip(b"\r")
            .decode("latin-1", "replace")[:8]
        )
        # num → ("file", byte_offset) | ("objstm", stream_num, index)
        self.offsets: dict[int, tuple] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, tuple] = {}
        self._loading: set[int] = set()
        # standard-security-handler state (r15): a non-None _file_key
        # turns on per-object RC4 decryption in _load_file_object
        self._file_key: bytes | None = None
        self._encrypt_num: int | None = None
        self._load_xref()
        self._setup_encryption()

    def _load_xref(self) -> None:
        data = self.data
        tail = data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError("startxref not found")
        offset = int(m.group(1))
        sections = 0
        while offset is not None:
            sections += 1
            if sections > MAX_XREF_SECTIONS:
                raise ValueError("xref /Prev chain exceeds section guard")
            if offset < 0 or offset >= len(data):
                raise ValueError("xref offset out of range")
            probe = _Lexer(data, offset)
            probe._skip_ws()
            if data[probe.pos : probe.pos + 4] == b"xref":
                offset = self._load_classic_section(
                    probe.pos + 4, sections
                )
            else:
                # PDF 1.5+ cross-reference STREAM (spec 7.5.8)
                offset = self._load_xref_stream_section(offset)

    def _setup_encryption(self) -> None:
        """Trailer /Encrypt → the standard security handler's
        EMPTY-USER-PASSWORD path (spec 7.6.3, Algorithms 2/4/5): RC4
        V=1/V=2, R=2/R=3 — the permissions-only encryption the bulk of
        "encrypted" crawl PDFs carry. Anything needing a real
        password, AES (/V >= 4 crypt filters), or a non-Standard
        handler raises a DISTINCT ValueError so quarantine loss is
        measurable per class. The Encrypt dict loads BEFORE _file_key
        is set, so its own strings (/O /U) stay raw per spec."""
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is None:
            return
        if isinstance(enc_ref, _Ref):
            self._encrypt_num = enc_ref.num
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            raise ValueError("trailer /Encrypt is not a dict")
        handler = self.resolve(enc.get("Filter"))
        if handler != "Standard":
            raise ValueError(
                f"encryption handler {handler!r} is out of scope "
                "(Standard security handler only)"
            )
        v = self.resolve(enc.get("V", 0))
        r = self.resolve(enc.get("R"))
        if v not in (1, 2):
            raise ValueError(
                f"encryption /V {v!r} is out of scope "
                "(RC4 V=1/V=2 only — AES / crypt filters quarantine)"
            )
        if r not in (2, 3):
            raise ValueError(
                f"encryption /R {r!r} is out of scope (R=2/R=3 only)"
            )
        o = self.resolve(enc.get("O"))
        u = self.resolve(enc.get("U"))
        p = self.resolve(enc.get("P"))
        if not (
            isinstance(o, bytes) and len(o) >= 32
            and isinstance(u, bytes) and len(u) >= 32
            and isinstance(p, int)
        ):
            raise ValueError("encryption dict /O /U /P malformed")
        if p >= 1 << 31:  # writers emit unsigned; Algorithm 2 packs i32
            p -= 1 << 32
        if v == 1:
            nbytes = 5
        else:
            length = self.resolve(enc.get("Length", 40))
            if not isinstance(length, int) or length % 8:
                raise ValueError("encryption /Length malformed")
            nbytes = length // 8
        if not 5 <= nbytes <= 16:
            raise ValueError(
                f"encryption key length {nbytes * 8} out of range"
            )
        ids = self.resolve(self.trailer.get("ID"))
        id0 = (
            self.resolve(ids[0])
            if isinstance(ids, list) and ids
            else b""
        )
        if not isinstance(id0, bytes):
            raise ValueError("trailer /ID[0] is not a string")
        key = _std_file_key(b"", o, p, id0, r, nbytes)
        expect = _std_user_check(key, id0, r)
        ok = (
            expect[:16] == u[:16] if r == 3 else expect == u[:32]
        )
        if not ok:
            raise ValueError(
                "PDF user password is not empty — password-protected "
                "PDFs are out of scope"
            )
        self._file_key = key

    def _decrypt_loaded(self, value, num: int, gen: int):
        """Per-object decrypt (spec Algorithm 1) applied to a freshly
        parsed top-level object: every string and stream body under it
        was RC4-encrypted with MD5(file_key + num + gen). Exempt per
        spec: the Encrypt dict itself (never gets here — loaded before
        _file_key), cross-reference streams, and ObjStm-INNER strings
        (the container stream decrypts as a whole; its parsed contents
        come out of _load_compressed_object, not here)."""
        key = _obj_key(self._file_key, num, gen)

        def walk(v):
            if isinstance(v, bytes):
                return _rc4(key, v)
            if isinstance(v, list):
                return [walk(x) for x in v]
            if isinstance(v, dict):
                return {k: walk(x) for k, x in v.items()}
            if isinstance(v, _Stream):
                if v.dict.get("Type") == "XRef":
                    return v  # xref streams are never encrypted
                return _Stream(walk(v.dict), _rc4(key, v.raw))
            return v

        return walk(value)

    def _load_classic_section(self, pos: int, sections: int):
        """One classic xref table + trailer at ``pos`` (just past the
        'xref' keyword) → next offset in the chain or None."""
        data = self.data
        lex = _Lexer(data, pos)
        while True:
            lex._skip_ws()
            if data[lex.pos : lex.pos + 7] == b"trailer":
                lex.pos += 7
                break
            first = lex._number()
            count = lex._number()
            if not (
                isinstance(first, int)
                and isinstance(count, int)
                and 0 <= count <= MAX_OBJECTS
                and len(self.offsets) + count <= MAX_OBJECTS
            ):
                raise ValueError("xref subsection out of range")
            lex._skip_ws()
            for i in range(count):
                entry = data[lex.pos : lex.pos + 20]
                if len(entry) < 18:
                    raise ValueError("truncated xref entry")
                try:
                    off = int(entry[0:10])
                except ValueError:
                    raise ValueError("malformed xref entry")
                kind = entry[17:18]
                # earlier sections in the chain win (incremental
                # updates list newest first)
                if kind == b"n":
                    self.offsets.setdefault(first + i, ("file", off))
                elif kind != b"f":
                    raise ValueError("malformed xref entry kind")
                lex.pos += 20 if len(entry) == 20 else len(entry)
        trailer = lex.object()
        if not isinstance(trailer, dict):
            raise ValueError("PDF trailer is not a dict")
        for k, v in trailer.items():
            self.trailer.setdefault(k, v)
        # hybrid-reference file (spec 7.5.8.4): the classic trailer
        # points at a PARALLEL xref stream carrying the compressed-
        # object entries older readers can't see. Classic rows already
        # loaded win via setdefault; the hybrid stream's own /Prev is
        # ignored per spec (the classic /Prev drives the chain).
        xrefstm = trailer.get("XRefStm")
        if isinstance(xrefstm, int):
            if sections >= MAX_XREF_SECTIONS:
                raise ValueError("xref /Prev chain exceeds section guard")
            self._load_xref_stream_section(xrefstm, hybrid=True)
        prev = trailer.get("Prev")
        if prev is None:
            return None
        if not isinstance(prev, int):
            raise ValueError("trailer /Prev is not an offset")
        return prev

    def _load_xref_stream_section(
        self, offset: int, hybrid: bool = False
    ):
        """One cross-reference stream object at ``offset`` → next
        /Prev offset (None for hybrid side-loads)."""
        if offset < 0 or offset >= len(self.data):
            raise ValueError("xref stream offset out of range")
        lex = _Lexer(self.data, offset)
        lex._number()
        lex._number()
        if lex.keyword() != "obj":
            raise ValueError(
                "expected an xref table or xref stream object at the "
                "startxref offset"
            )
        d = lex.object()
        if not isinstance(d, dict) or d.get("Type") != "XRef":
            raise ValueError("xref stream object is not /Type /XRef")
        stream = self._read_stream_at(lex, d, direct_length_only=True)
        raw = stream.decoded(self)
        w = d.get("W")
        if not (
            isinstance(w, list)
            and len(w) == 3
            and all(isinstance(x, int) and 0 <= x <= 8 for x in w)
        ):
            raise ValueError("xref stream /W malformed")
        size = d.get("Size")
        if not isinstance(size, int) or not 0 <= size <= MAX_OBJECTS:
            raise ValueError("xref stream /Size out of range")
        index = d.get("Index", [0, size])
        if not (
            isinstance(index, list)
            and len(index) % 2 == 0
            and all(isinstance(x, int) and x >= 0 for x in index)
        ):
            raise ValueError("xref stream /Index malformed")
        row_w = sum(w)
        pos = 0
        for start, count in zip(index[0::2], index[1::2]):
            if count > MAX_OBJECTS or len(self.offsets) + count > MAX_OBJECTS:
                raise ValueError("xref stream subsection out of range")
            for i in range(count):
                row = raw[pos : pos + row_w]
                if len(row) < row_w:
                    raise ValueError("xref stream data truncated")
                pos += row_w
                c = 0
                f = []
                for width in w:
                    f.append(
                        int.from_bytes(row[c : c + width], "big")
                        if width
                        else None
                    )
                    c += width
                # w1=0 → type defaults to 1 (spec table 17)
                typ = f[0] if f[0] is not None else 1
                num = start + i
                if typ == 1 and f[1] is not None:
                    self.offsets.setdefault(num, ("file", f[1]))
                elif typ == 2 and f[1] is not None:
                    self.offsets.setdefault(
                        num, ("objstm", f[1], f[2] or 0)
                    )
                # type 0 (free) and unknown types: skip (spec: ignore)
        for k, v in d.items():
            self.trailer.setdefault(k, v)
        if hybrid:
            return None
        prev = d.get("Prev")
        if prev is not None and not isinstance(prev, int):
            raise ValueError("xref stream /Prev is not an offset")
        return prev

    def _read_stream_at(
        self, lex: _Lexer, d: dict, direct_length_only: bool = False
    ) -> _Stream:
        """The dict at ``lex`` is followed by stream data — frame it by
        /Length. ``direct_length_only`` is the xref-stream
        bootstrapping rule: resolving an indirect /Length needs the
        xref we are in the middle of loading."""
        if lex.keyword() != "stream":
            raise ValueError("expected stream keyword")
        if self.data[lex.pos : lex.pos + 2] == b"\r\n":
            lex.pos += 2
        elif self.data[lex.pos : lex.pos + 1] == b"\n":
            lex.pos += 1
        length = d.get("Length")
        if not direct_length_only:
            length = self.resolve(length)
        if not isinstance(length, int) or length < 0 or (
            lex.pos + length > len(self.data)
        ):
            raise ValueError("stream /Length missing or overruns")
        return _Stream(d, self.data[lex.pos : lex.pos + length])

    def obj(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if num in self._loading:
            raise ValueError(f"object {num} resolution cycle")
        entry = self.offsets.get(num)
        if entry is None:
            raise ValueError(f"object {num} missing from xref")
        self._loading.add(num)
        try:
            if entry[0] == "file":
                value = self._load_file_object(num, entry[1])
            else:
                value = self._load_compressed_object(
                    num, entry[1], entry[2]
                )
        finally:
            self._loading.discard(num)
        self._cache[num] = value
        return value

    def _load_file_object(self, num: int, off: int):
        if off >= len(self.data):
            raise ValueError(f"object {num} offset out of range")
        lex = _Lexer(self.data, off)
        got = lex._number()
        gen = lex._number()
        if got != num or lex.keyword() != "obj":
            raise ValueError(f"xref offset for object {num} is stale")
        value = lex.object()
        lex._skip_ws()
        kw_start = lex.pos
        kw = lex.keyword()
        if kw == "stream":
            if not isinstance(value, dict):
                raise ValueError("stream without a dict")
            lex.pos = kw_start
            value = self._read_stream_at(lex, value)
        elif kw != "endobj":
            lex.pos = kw_start
        if self._file_key is not None and num != self._encrypt_num:
            value = self._decrypt_loaded(
                value, num, gen if isinstance(gen, int) else 0
            )
        return value

    def _load_compressed_object(self, num: int, stm_num: int, idx: int):
        """Object ``num`` out of object stream ``stm_num`` (spec
        7.5.7): the decompressed stream opens with /N (objnum, offset)
        pairs; objects follow at /First + offset, bare (no obj/endobj
        wrappers, and never themselves streams)."""
        if stm_num not in self._objstm_cache:
            stm = self.obj(stm_num)
            if not isinstance(stm, _Stream) or (
                self.resolve(stm.dict.get("Type")) != "ObjStm"
            ):
                raise ValueError(
                    f"object {num} points into non-ObjStm {stm_num}"
                )
            raw = stm.decoded(self)
            n = self.resolve(stm.dict.get("N"))
            first = self.resolve(stm.dict.get("First"))
            if not (
                isinstance(n, int)
                and isinstance(first, int)
                and 0 <= n <= MAX_OBJECTS
                and 0 <= first <= len(raw)
            ):
                raise ValueError("ObjStm /N or /First malformed")
            hl = _Lexer(raw)
            pairs = []
            for _ in range(n):
                onum = hl._number()
                ooff = hl._number()
                if not (isinstance(onum, int) and isinstance(ooff, int)):
                    raise ValueError("ObjStm header pair malformed")
                pairs.append((onum, ooff))
            self._objstm_cache[stm_num] = (raw, first, pairs)
        raw, first, pairs = self._objstm_cache[stm_num]
        if 0 <= idx < len(pairs) and pairs[idx][0] == num:
            onum, ooff = pairs[idx]
        else:
            # writers occasionally emit stale indices; the header pair
            # list is authoritative for which objects live here
            match = [p for p in pairs if p[0] == num]
            if not match:
                raise ValueError(
                    f"object {num} not present in ObjStm {stm_num}"
                )
            onum, ooff = match[0]
        if first + ooff > len(raw):
            raise ValueError("ObjStm object offset overruns")
        return _Lexer(raw, first + ooff).object()

    def resolve(self, value):
        depth = 0
        while isinstance(value, _Ref):
            if depth > 32:
                raise ValueError("indirect reference chain too deep")
            value = self.obj(value.num)
            depth += 1
        return value


def _apply_predictor(data: bytes, parms: dict) -> bytes:
    """Undo a /DecodeParms predictor on FlateDecode output. Predictor
    1 = none; 2 = TIFF horizontal differencing; >= 10 = PNG row
    filters (spec 7.4.4.4 delegates to PNG; each row leads with its
    filter byte). Real-world xref streams almost universally ship
    Predictor 12 (PNG Up), so this is load-bearing for real PDFs, not
    an ornament. 8-bit components only (the PDF-writer norm)."""
    predictor = parms.get("Predictor", 1)
    if not isinstance(predictor, int) or predictor == 1:
        return data
    colors = parms.get("Colors", 1)
    bpc = parms.get("BitsPerComponent", 8)
    columns = parms.get("Columns", 1)
    if bpc != 8:
        raise ValueError(
            f"predictor BitsPerComponent {bpc} is out of scope (8 only)"
        )
    if not (
        isinstance(colors, int)
        and isinstance(columns, int)
        and 1 <= colors <= 4
        and 1 <= columns <= 1 << 20
    ):
        raise ValueError("predictor Colors/Columns out of range")
    row_w = colors * columns
    if predictor == 2:  # TIFF horizontal differencing
        out = bytearray(data)
        if len(out) % row_w:
            raise ValueError("TIFF-predictor data is not whole rows")
        for r0 in range(0, len(out), row_w):
            for i in range(colors, row_w):
                out[r0 + i] = (out[r0 + i] + out[r0 + i - colors]) & 0xFF
        return bytes(out)
    if predictor < 10 or predictor > 15:
        raise ValueError(f"unknown predictor {predictor}")
    # PNG filters: each row is 1 filter byte + row_w data bytes
    if len(data) % (row_w + 1):
        raise ValueError("PNG-predictor data is not whole rows")
    out = bytearray()
    prev = bytearray(row_w)
    pos = 0
    while pos < len(data):
        ftype = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + row_w])
        pos += row_w + 1
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(colors, row_w):
                row[i] = (row[i] + row[i - colors]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(row_w):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(row_w):
                left = row[i - colors] if i >= colors else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(row_w):
                a = row[i - colors] if i >= colors else 0
                b = prev[i]
                c = prev[i - colors] if i >= colors else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (
                    b if pb <= pc else c
                )
                row[i] = (row[i] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out += row
        prev = row
    return bytes(out)


# --- LZWDecode (r15, VERDICT r14 #4) --------------------------------
#
# PDF/TIFF LZW (spec 7.4.4): MSB-first bit packing, 8-bit symbols,
# code 256 = Clear, 257 = EOD, widths grow 9 → 12 bits with the
# /EarlyChange (default 1) off-by-one. Distinct from the GIF LZW in
# codecs.py (LSB-first, variable min code size) — the bit order and
# control codes differ, so they share the algorithm but not bytes.


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    if early not in (0, 1):
        raise ValueError(f"LZWDecode EarlyChange {early!r} out of range")
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    bitbuf = 0
    bits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bits += 8
        while bits >= width:
            code = (bitbuf >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            if code == 256:
                del table[258:]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= 256:
                    raise ValueError("LZW first code not a literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("LZW code out of range")
            out += entry
            if len(out) > MAX_CONTENT_BYTES:
                raise ValueError("LZW output exceeds the inflate guard")
            prev = entry
            # The decoder's table is one entry BEHIND the encoder's
            # next-code counter (the pending entry completes on the
            # NEXT code), so the width switch fires at len+1 — plus
            # the /EarlyChange off-by-one the spec mandates.
            if len(table) + 1 >= (1 << width) - early and width < 12:
                width += 1
    raise ValueError("truncated LZW stream (no EOD)")


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Fixture-side LZW encoder, the exact inverse of ``_lzw_decode``
    (Clear up front, EOD at the end, table reset before overflow)."""
    out = bytearray()
    bitbuf = 0
    bits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, bits
        bitbuf = (bitbuf << width) | code
        bits += width
        while bits >= 8:
            out.append((bitbuf >> (bits - 8)) & 0xFF)
            bits -= 8

    width = 9
    emit(256, width)
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt = 258
    w = b""
    for i in range(len(data)):
        k = w + data[i : i + 1]
        if k in table:
            w = k
            continue
        emit(table[w], width)
        table[k] = nxt
        nxt += 1
        if nxt >= (1 << width) - early:
            if width < 12:
                width += 1
            else:
                emit(256, width)
                table = {bytes([i]): i for i in range(256)}
                nxt = 258
                width = 9
        w = data[i : i + 1]
    if w:
        emit(table[w], width)
    emit(257, width)
    if bits:
        out.append((bitbuf << (8 - bits)) & 0xFF)
    return bytes(out)


# --- ASCII / run-length filters (r15) -------------------------------
#
# The remaining stdlib-feasible PDF filters (spec 7.4.2/7.4.3/7.4.5):
# ASCIIHexDecode and ASCII85Decode are the 7-bit-safe transport
# wrappers older toolchains stacked OUTSIDE Flate/LZW
# (/Filter [/ASCII85Decode /FlateDecode]); RunLengthDecode shows up
# on image XObjects and legacy generators. Each raises ValueError on
# malformed input → the quarantine lane.


def _asciihex_decode(data: bytes) -> bytes:
    end = data.find(b">")
    if end < 0:
        raise ValueError("ASCIIHexDecode missing '>' EOD")
    digits = bytes(
        c for c in data[:end] if c not in b" \t\r\n\x0c\x00"
    ).decode("latin-1")
    if len(digits) % 2:
        digits += "0"  # odd count: final digit implies trailing 0
    try:
        return bytes.fromhex(digits)
    except ValueError:
        raise ValueError("non-hex digit in ASCIIHexDecode stream")


def _ascii85_decode(data: bytes) -> bytes:
    import base64

    end = data.find(b"~>")
    if end < 0:
        raise ValueError("ASCII85Decode missing '~>' EOD")
    body = bytes(
        c for c in data[:end] if c not in b" \t\r\n\x0c\x00"
    )
    if body.startswith(b"<~"):  # Adobe framing is optional in PDF
        body = body[2:]
    try:
        return base64.a85decode(body)
    except ValueError as exc:
        raise ValueError(f"corrupt ASCII85Decode stream: {exc}")


def _runlength_decode(data: bytes) -> bytes:
    out = bytearray()
    pos = 0
    n = len(data)
    while True:
        if pos >= n:
            raise ValueError("RunLengthDecode missing EOD (128)")
        length = data[pos]
        pos += 1
        if length == 128:
            return bytes(out)
        if length < 128:
            if pos + length + 1 > n:
                raise ValueError("RunLengthDecode literal run overruns")
            out += data[pos : pos + length + 1]
            pos += length + 1
        else:
            if pos >= n:
                raise ValueError("RunLengthDecode repeat run overruns")
            out += data[pos : pos + 1] * (257 - length)
            pos += 1
        if len(out) > MAX_CONTENT_BYTES:
            raise ValueError("RunLengthDecode output exceeds the guard")


def _runlength_encode(data: bytes) -> bytes:
    """Fixture-side inverse of ``_runlength_decode``: greedy runs —
    repeats of >= 3 become repeat runs, the rest literal runs."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        run = 1
        while (
            pos + run < n
            and run < 128
            and data[pos + run] == data[pos]
        ):
            run += 1
        if run >= 3:
            out.append(257 - run)
            out.append(data[pos])
            pos += run
            continue
        lit_end = pos + 1
        while lit_end < n and lit_end - pos < 128:
            nxt = 1
            while (
                lit_end + nxt < n
                and nxt < 3
                and data[lit_end + nxt] == data[lit_end]
            ):
                nxt += 1
            if nxt >= 3:
                break
            lit_end += 1
        out.append(lit_end - pos - 1)
        out += data[pos:lit_end]
        pos = lit_end
    out.append(128)
    return bytes(out)


# --- standard security handler, empty user password (r15) -----------

_PDF_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _std_file_key(
    password: bytes, o: bytes, p: int, id0: bytes, r: int, nbytes: int
) -> bytes:
    """Spec Algorithm 2: padded password + /O + /P + /ID[0] → MD5
    (+50 re-hash rounds for R >= 3), truncated to the key length."""
    padded = (password + _PDF_PAD)[:32]
    h = hashlib.md5(
        padded + o[:32] + struct.pack("<i", p) + id0
    ).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:nbytes]).digest()
    return h[:nbytes]


def _std_user_check(key: bytes, id0: bytes, r: int) -> bytes:
    """Spec Algorithm 4 (R=2) / 5 (R=3): the /U value an empty-ish
    password key should produce (R=3 compares the first 16 bytes)."""
    if r == 2:
        return _rc4(key, _PDF_PAD)
    h = hashlib.md5(_PDF_PAD + id0).digest()
    enc = _rc4(key, h)
    for i in range(1, 20):
        enc = _rc4(bytes(b ^ i for b in key), enc)
    return enc


def _std_owner_entry(
    owner_pwd: bytes, user_pwd: bytes, r: int, nbytes: int
) -> bytes:
    """Spec Algorithm 3 (fixture writer): /O from the owner password."""
    h = hashlib.md5((owner_pwd + _PDF_PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    key = h[:nbytes]
    o = _rc4(key, (user_pwd + _PDF_PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in key), o)
    return o


def _obj_key(file_key: bytes, num: int, gen: int) -> bytes:
    """Spec Algorithm 1: per-object RC4 key."""
    h = hashlib.md5(
        file_key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
    ).digest()
    return h[: min(len(file_key) + 5, 16)]


class _Stream:
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes) -> None:
        self.dict = d
        self.raw = raw

    def decoded(self, doc: _Document) -> bytes:
        filt = doc.resolve(self.dict.get("Filter"))
        if filt is None:
            return self.raw
        filters = filt if isinstance(filt, list) else [filt]
        parms_entry = doc.resolve(self.dict.get("DecodeParms"))
        parms_list = (
            parms_entry
            if isinstance(parms_entry, list)
            else [parms_entry] * len(filters)
        )
        out = self.raw
        for f, parms in zip(filters, parms_list):
            f = doc.resolve(f)
            parms_res = doc.resolve(parms)
            if f == "FlateDecode":
                d = zlib.decompressobj()
                try:
                    out = d.decompress(out, MAX_CONTENT_BYTES + 1)
                except zlib.error as exc:
                    raise ValueError(
                        f"corrupt FlateDecode stream: {exc}"
                    )
                if len(out) > MAX_CONTENT_BYTES:
                    raise ValueError(
                        "content stream exceeds the inflate guard"
                    )
                # A TRUNCATED deflate stream inflates without error —
                # decompress() returns the partial output silently —
                # so a corrupt PDF would extract silently wrong text
                # instead of hitting the documented ValueError
                # quarantine (ADVICE r13). Same completeness check as
                # the gzip-member loop in io/warc.py: the stream must
                # have reached its final block.
                if not d.eof:
                    raise ValueError(
                        "truncated FlateDecode stream (no final block)"
                    )
            elif f == "LZWDecode":
                early = 1
                if isinstance(parms_res, dict):
                    early = doc.resolve(parms_res.get("EarlyChange", 1))
                    if not isinstance(early, int):
                        raise ValueError(
                            "LZWDecode /EarlyChange is not an int"
                        )
                out = _lzw_decode(out, early)
            elif f == "ASCIIHexDecode":
                out = _asciihex_decode(out)
            elif f == "ASCII85Decode":
                out = _ascii85_decode(out)
            elif f == "RunLengthDecode":
                out = _runlength_decode(out)
            else:
                raise ValueError(
                    f"stream filter {f!r} is out of scope "
                    "(Flate/LZW/ASCIIHex/ASCII85/RunLength only)"
                )
            parms = parms_res
            if isinstance(parms, dict):
                out = _apply_predictor(
                    out,
                    {k: doc.resolve(v) for k, v in parms.items()},
                )
        return out


_SHOW_OPS = frozenset(("Tj", "'", '"', "TJ"))

# --- Unicode text decode layer (r14, VERDICT r13 #4) ----------------
#
# Real-world PDFs mostly ship subset fonts whose byte codes mean
# nothing in latin-1; the byte-transparent default extracted wrong or
# empty text even when the object model parsed. Three public-spec
# mechanisms close the gap (PDF 32000-1 §9.10):
#
# - /ToUnicode CMap streams (bfchar / bfrange, 1- or 2-byte codes) —
#   the mapping mass-produced PDFs actually carry;
# - simple-font /Encoding dicts with /Differences arrays (code →
#   glyph NAME → Unicode via the Adobe Glyph List);
# - UTF-16BE text strings (BOM FE FF), decoded regardless of font.
#
# Fonts with none of these stay byte-transparent latin-1 (the pre-r14
# contract, still right for the synthetic fixtures).

MAX_CMAP_ENTRIES = 1 << 16

# Adobe Glyph List snapshot (public data, github.com/adobe-type-tools/
# agl-aglfn) — the high-traffic subset: ASCII names resolve through
# latin-1 anyway, so this lists the non-trivial glyphs real subset
# fonts rename, plus the uniXXXX / uXXXX(XX) systematic forms handled
# in _glyph_to_unicode.
_AGL = {
    # greek
    "alpha": "α", "beta": "β", "gamma": "γ",
    "delta": "δ", "epsilon": "ε", "zeta": "ζ",
    "eta": "η", "theta": "θ", "iota": "ι",
    "kappa": "κ", "lambda": "λ", "mu": "μ",
    "nu": "ν", "xi": "ξ", "omicron": "ο",
    "pi": "π", "rho": "ρ", "sigma": "σ",
    "tau": "τ", "upsilon": "υ", "phi": "φ",
    "chi": "χ", "psi": "ψ", "omega": "ω",
    "Alpha": "Α", "Beta": "Β", "Gamma": "Γ",
    "Delta": "Δ", "Omega": "Ω", "Sigma": "Σ",
    "Pi": "Π", "Phi": "Φ", "Psi": "Ψ",
    "Theta": "Θ", "Lambda": "Λ",
    # latin-1 / latin extended names
    "adieresis": "ä", "odieresis": "ö",
    "udieresis": "ü", "Adieresis": "Ä",
    "Odieresis": "Ö", "Udieresis": "Ü",
    "germandbls": "ß", "eacute": "é", "egrave": "è",
    "agrave": "à", "aacute": "á", "acircumflex": "â",
    "ecircumflex": "ê", "ccedilla": "ç",
    "Ccedilla": "Ç", "ntilde": "ñ", "Ntilde": "Ñ",
    "oslash": "ø", "Oslash": "Ø", "aring": "å",
    "Aring": "Å", "ae": "æ", "AE": "Æ",
    "oe": "œ", "OE": "Œ", "thorn": "þ",
    "Thorn": "Þ", "eth": "ð", "Eth": "Ð",
    "scaron": "š", "Scaron": "Š", "zcaron": "ž",
    "Zcaron": "Ž", "ydieresis": "ÿ", "Ydieresis": "Ÿ",
    "igrave": "ì", "iacute": "í", "ograve": "ò",
    "oacute": "ó", "ugrave": "ù", "uacute": "ú",
    "atilde": "ã", "otilde": "õ",
    # punctuation / typography
    "quotesingle": "'", "quotedbl": '"',
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "perthousand": "‰", "guilsinglleft": "‹",
    "guilsinglright": "›", "guillemotleft": "«",
    "guillemotright": "»", "fi": "ﬁ", "fl": "ﬂ",
    "trademark": "™", "copyright": "©",
    "registered": "®", "degree": "°",
    "plusminus": "±", "multiply": "×", "divide": "÷",
    "minus": "−", "fraction": "⁄", "florin": "ƒ",
    "Euro": "€", "sterling": "£", "yen": "¥",
    "cent": "¢", "currency": "¤", "section": "§",
    "paragraph": "¶", "periodcentered": "·",
    "dotlessi": "ı", "circumflex": "ˆ", "tilde": "˜",
    "macron": "¯", "breve": "˘", "dotaccent": "˙",
    "ring": "˚", "cedilla": "¸", "hungarumlaut": "˝",
    "ogonek": "˛", "caron": "ˇ",
    "space": " ", "exclam": "!", "numbersign": "#", "dollar": "$",
    "percent": "%", "ampersand": "&", "parenleft": "(",
    "parenright": ")", "asterisk": "*", "plus": "+", "comma": ",",
    "hyphen": "-", "period": ".", "slash": "/", "colon": ":",
    "semicolon": ";", "less": "<", "equal": "=", "greater": ">",
    "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    ".notdef": "�",
}


def _glyph_to_unicode(name: str) -> str:
    """AGL name → Unicode per the AGL specification's resolution
    order: explicit table entry, single ASCII letter, the systematic
    uniXXXX / uXXXX(XX) forms; anything unresolvable maps to U+FFFD
    (deterministic — never silently drops a glyph)."""
    hit = _AGL.get(name)
    if hit is not None:
        return hit
    if len(name) == 1 and " " <= name <= "~":
        return name
    if name.startswith("uni") and len(name) >= 7:
        try:
            cp = int(name[3:7], 16)
            if not 0xD800 <= cp <= 0xDFFF:
                return chr(cp)
        except ValueError:
            pass
    if name.startswith("u") and len(name) in (5, 6, 7):
        try:
            cp = int(name[1:], 16)
            if cp <= 0x10FFFF and not 0xD800 <= cp <= 0xDFFF:
                return chr(cp)
        except ValueError:
            pass
    return "�"


def _parse_cmap(data: bytes) -> tuple[dict[int, str], int]:
    """ToUnicode CMap stream → (code → Unicode string, code width in
    bytes). Walks bfchar / bfrange / codespacerange blocks with the
    module lexer; every other CMap token (the PostScript prologue) is
    skipped. Destinations are UTF-16BE per the spec; bfrange
    increments the LAST code unit of the destination."""
    lex = _Lexer(data)
    n = len(data)
    stack: list = []
    out: dict[int, str] = {}
    width = 1
    saw_space = False

    def code_int(b: bytes) -> int:
        return int.from_bytes(b, "big")

    def dst_str(b: bytes) -> str:
        return b.decode("utf-16-be", "replace")

    mode = None  # None | 'space' | 'char' | 'range'
    while True:
        lex._skip_ws()
        if lex.pos >= n:
            break
        c = data[lex.pos]
        if c in b"+-.0123456789" or c in b"(<[/":
            stack.append(lex.object())
            continue
        kw = lex.keyword()
        if kw == "begincodespacerange":
            mode, stack[:] = "space", []
        elif kw == "beginbfchar":
            mode, stack[:] = "char", []
        elif kw == "beginbfrange":
            mode, stack[:] = "range", []
        elif kw in ("endcodespacerange", "endbfchar", "endbfrange"):
            if mode == "space":
                for i in range(0, len(stack) - 1, 2):
                    lo = stack[i]
                    if not isinstance(lo, bytes) or len(lo) not in (1, 2):
                        raise ValueError(
                            "codespacerange width not 1 or 2 bytes"
                        )
                    if saw_space and len(lo) != width:
                        raise ValueError(
                            "mixed CMap code widths are out of scope"
                        )
                    width, saw_space = len(lo), True
            elif mode == "char":
                for i in range(0, len(stack) - 1, 2):
                    src, dst = stack[i], stack[i + 1]
                    if not isinstance(src, bytes) or not isinstance(
                        dst, bytes
                    ):
                        raise ValueError("bfchar operands must be hex")
                    out[code_int(src)] = dst_str(dst)
            elif mode == "range":
                for i in range(0, len(stack) - 2, 3):
                    lo, hi, dst = stack[i], stack[i + 1], stack[i + 2]
                    if not isinstance(lo, bytes) or not isinstance(
                        hi, bytes
                    ):
                        raise ValueError("bfrange bounds must be hex")
                    lo_i, hi_i = code_int(lo), code_int(hi)
                    if hi_i < lo_i:
                        raise ValueError("bfrange upper below lower")
                    if hi_i - lo_i + 1 + len(out) > MAX_CMAP_ENTRIES:
                        raise ValueError("CMap exceeds the entry guard")
                    if isinstance(dst, list):
                        if len(dst) != hi_i - lo_i + 1:
                            raise ValueError(
                                "bfrange array length mismatch"
                            )
                        for k, d in enumerate(dst):
                            if not isinstance(d, bytes):
                                raise ValueError(
                                    "bfrange array entry must be hex"
                                )
                            out[lo_i + k] = dst_str(d)
                    elif isinstance(dst, bytes):
                        base = dst_str(dst)
                        if not base:
                            raise ValueError("empty bfrange destination")
                        last = ord(base[-1])
                        for k in range(hi_i - lo_i + 1):
                            out[lo_i + k] = base[:-1] + chr(
                                (last + k) & 0xFFFF
                            )
                    else:
                        raise ValueError("bfrange dst must be hex/array")
            mode, stack[:] = None, []
        else:
            stack.clear()
        if len(out) > MAX_CMAP_ENTRIES:
            raise ValueError("CMap exceeds the entry guard")
    return out, width


class _FontDecoder:
    """Byte codes → Unicode for ONE font: ToUnicode CMap first (1- or
    2-byte codes), /Differences second, latin-1 transparency last."""

    __slots__ = ("cmap", "width", "diff")

    def __init__(
        self,
        cmap: dict[int, str] | None,
        width: int,
        diff: dict[int, str] | None,
    ) -> None:
        self.cmap = cmap
        self.width = width
        self.diff = diff

    def decode(self, s: bytes) -> str:
        if self.cmap is not None and self.width == 2:
            frags = []
            for i in range(0, len(s) - 1, 2):
                frags.append(
                    self.cmap.get(
                        int.from_bytes(s[i : i + 2], "big"), "�"
                    )
                )
            if len(s) % 2:
                frags.append("�")  # odd tail: malformed code
            return "".join(frags)
        frags = []
        for b in s:
            if self.cmap is not None and b in self.cmap:
                frags.append(self.cmap[b])
            elif self.diff is not None and b in self.diff:
                frags.append(self.diff[b])
            else:
                frags.append(chr(b))
        return "".join(frags)


def _font_decoder(doc: "_Document", font) -> _FontDecoder | None:
    """Font dict → decoder, or None for byte-transparent fonts."""
    font = doc.resolve(font)
    if not isinstance(font, dict):
        return None
    cmap = width = None
    tou = doc.resolve(font.get("ToUnicode"))
    if isinstance(tou, _Stream):
        cmap, width = _parse_cmap(tou.decoded(doc))
    diff = None
    enc = doc.resolve(font.get("Encoding"))
    if isinstance(enc, dict):
        diffs = doc.resolve(enc.get("Differences"))
        if isinstance(diffs, list):
            diff = {}
            code = 0
            for el in diffs:
                el = doc.resolve(el)
                if isinstance(el, int):
                    code = el
                elif isinstance(el, str):
                    if not 0 <= code <= 255:
                        raise ValueError(
                            "/Differences code outside one byte"
                        )
                    diff[code] = _glyph_to_unicode(el)
                    code += 1
                else:
                    raise ValueError(
                        "/Differences entries must be int or name"
                    )
    if cmap is None and diff is None:
        return None
    return _FontDecoder(cmap, width or 1, diff)


def _page_fonts(doc: "_Document", page: dict) -> dict:
    """Resource-dict /Font map → {name: _FontDecoder | None}."""
    res = doc.resolve(page.get("Resources"))
    if not isinstance(res, dict):
        return {}
    fonts = doc.resolve(res.get("Font"))
    if not isinstance(fonts, dict):
        return {}
    return {name: _font_decoder(doc, fd) for name, fd in fonts.items()}


def _decode_show(s: bytes, dec: _FontDecoder | None) -> str:
    if s[:2] == b"\xfe\xff":
        return s[2:].decode("utf-16-be", "replace")
    if dec is None:
        return s.decode("latin-1")
    return dec.decode(s)


def _page_text(content: bytes, fonts: dict | None = None) -> str:
    """Show-operator walk per the module contract: fragments from
    Tj / ' / \" / TJ, joined with one space. ``fonts`` (resource name
    → _FontDecoder | None) feeds the r14 Unicode layer: ``Tf`` tracks
    the current font and show strings decode through it; UTF-16BE
    BOM strings decode directly; fonts with no mapping stay
    latin-1-transparent."""
    lex = _Lexer(content)
    stack: list = []
    frags: list[str] = []
    n = len(content)
    fonts = fonts or {}
    dec: _FontDecoder | None = None
    while True:
        lex._skip_ws()
        if lex.pos >= n:
            break
        c = content[lex.pos]
        if (
            c in b"+-.0123456789"
            or c in b"(<[/"
        ):
            # operand — a garbage operand raises ValueError into the
            # quarantine lane (inline-image binary is handled by the
            # ID skip below, so it never reaches this tokenizer)
            stack.append(lex.object())
            continue
        op = lex.keyword()
        if op == "Tf":
            if len(stack) < 2 or not isinstance(stack[-2], str):
                raise ValueError("Tf without a font name operand")
            dec = fonts.get(stack[-2])
        elif op == "ID":
            # inline image (spec 8.9.7, r14): BI pushed its dict
            # key/values as ordinary operands; ID starts raw binary
            # sample data that would wreck the tokenizer — skip to the
            # EI terminator (must sit at a whitespace boundary, since
            # the bytes 'EI' can occur INSIDE the sample data). Real
            # page streams carry these constantly; quarantining the
            # whole document over an image we don't decode is wrong.
            pos = lex.pos + 1  # the single whitespace byte after ID
            while True:
                j = content.find(b"EI", pos)
                if j < 0:
                    raise ValueError("inline image not terminated by EI")
                before_ok = j > 0 and content[j - 1] in b" \t\r\n\x00"
                k = j + 2
                after_ok = k >= n or content[k] in b" \t\r\n\x00"
                if before_ok and after_ok:
                    lex.pos = k
                    break
                pos = j + 2
        elif op in _SHOW_OPS:
            if op == "TJ":
                if not stack or not isinstance(stack[-1], list):
                    raise ValueError("TJ without an array operand")
                frags.append(
                    "".join(
                        _decode_show(el, dec)
                        for el in stack[-1]
                        if isinstance(el, bytes)
                    )
                )
            else:
                if not stack or not isinstance(stack[-1], bytes):
                    raise ValueError(f"{op} without a string operand")
                frags.append(_decode_show(stack[-1], dec))
        stack.clear()
    return " ".join(frags)


@_malformed_as_valueerror
def pdf_meta(payload: bytes) -> tuple[str, int]:
    """(version, n_pages) from the header + page-tree walk."""
    doc = _Document(payload)
    return doc.version, len(_walk_pages(doc))


def _walk_pages(doc: _Document) -> list[dict]:
    root = doc.resolve(doc.trailer.get("Root"))
    if not isinstance(root, dict):
        raise ValueError("trailer /Root missing or not a dict")
    pages_obj = doc.resolve(root.get("Pages"))
    out: list[dict] = []

    def walk(node, depth: int, resources) -> None:
        node = doc.resolve(node)
        if depth > MAX_PAGE_TREE_DEPTH:
            raise ValueError("page tree exceeds depth guard")
        if not isinstance(node, dict):
            raise ValueError("page tree node is not a dict")
        # /Resources is INHERITABLE (spec 7.7.3.4): a page without its
        # own entry uses the nearest ancestor's — real writers factor
        # shared font dicts up the tree
        if "Resources" in node:
            resources = node["Resources"]
        ntype = doc.resolve(node.get("Type"))
        if ntype == "Pages":
            kids = doc.resolve(node.get("Kids"))
            if not isinstance(kids, list):
                raise ValueError("/Pages without /Kids array")
            for kid in kids:
                walk(kid, depth + 1, resources)
        elif ntype == "Page":
            if len(out) >= MAX_PAGES:
                raise ValueError("page count exceeds guard")
            if "Resources" not in node and resources is not None:
                node = dict(node)
                node["Resources"] = resources
            out.append(node)
        else:
            raise ValueError(f"unexpected page tree node type {ntype!r}")

    walk(pages_obj, 0, None)
    return out


@_malformed_as_valueerror
def pdf_text_report(payload: bytes) -> tuple[str, int, str, int]:
    """(version, n_pages, text, n_chars) in one parse — pages join
    with newline. The extraction kernel's surface."""
    doc = _Document(payload)
    pages = _extract_pages_text(doc)
    text = "\n".join(pages)
    return doc.version, len(pages), text, len(text)


def _extract_pages_text(doc: _Document) -> list[str]:
    texts = []
    for page in _walk_pages(doc):
        contents = doc.resolve(page.get("Contents"))
        if contents is None:
            texts.append("")
            continue
        parts = contents if isinstance(contents, list) else [contents]
        blobs = []
        for part in parts:
            part = doc.resolve(part)
            if not isinstance(part, _Stream):
                raise ValueError("/Contents is not a stream")
            blobs.append(part.decoded(doc))
        # multiple content streams form ONE logical stream (spec 7.8.2)
        texts.append(_page_text(b"\n".join(blobs), _page_fonts(doc, page)))
    return texts


@_malformed_as_valueerror
def pdf_text_pages(payload: bytes) -> list[str]:
    """One extracted-text string per page, in page-tree order, per the
    module's show-join contract."""
    return _extract_pages_text(_Document(payload))



# --- fixture writers: one object table, one serializer ----------------


def _literal(s: bytes) -> bytes:
    """``s`` as a PDF literal string. CR is escaped too: a raw CR
    inside a literal reads back as LF (PDF 32000-1 §7.3.4.2)."""
    return (
        b"("
        + s.replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(")
        .replace(b")", b"\\)")
        .replace(b"\r", b"\\r")
        + b")"
    )


def _encode_chain(data: bytes, filters: list[str]) -> tuple[bytes, bytes]:
    """(``data`` encoded for the /Filter chain, the dict's /Filter
    entry). Decode order is first-to-last, so encoders apply in
    REVERSE; an empty chain leaves the stream raw."""
    import base64

    encoders = {
        "FlateDecode": lambda b: zlib.compress(b, 6),
        "LZWDecode": _lzw_encode,
        "ASCIIHexDecode": lambda b: b.hex().encode() + b">",
        "ASCII85Decode": lambda b: base64.a85encode(b) + b"~>",
        "RunLengthDecode": _runlength_encode,
    }
    for f in reversed(filters):
        data = encoders[f](data)
    if not filters:
        return data, b""
    if len(filters) == 1:
        return data, b" /Filter /" + filters[0].encode()
    return data, (
        b" /Filter [" + b" ".join(b"/" + f.encode() for f in filters) + b"]"
    )


def _stream_obj(entries: bytes, data: bytes, extra: bytes) -> bytes:
    """A stream object body: ``entries`` (each ending in a space) lead
    the dict, ``extra`` follows /Length."""
    return (
        b"<< %s/Length %d%s >>\nstream\n" % (entries, len(data), extra)
        + data
        + b"\nendstream"
    )


class _ObjectTable:
    """The serializer every fixture writer shares. Objects number from
    1 in the order they are added; 1 is the catalog and 2 the page tree,
    both written by ``serialize`` from the pages added with ``page``.

    ``objstm`` packs every non-stream object into one /Type /ObjStm
    with type-2 entries in a cross-reference STREAM (the PDF 1.5 layout
    mass-produced PDFs ship). After ``secure``, ``seal`` RC4-encrypts
    each stream body and each literal string of a file object under its
    object's key; the ObjStm body is sealed as a whole, so the strings
    packed inside it stay plain (the spec's ObjStm-inner exemption), and
    the /Encrypt dict and the XRef stream are never sealed (spec
    7.5.8.2)."""

    def __init__(self, objstm: bool) -> None:
        self.objects: list[bytes] = [b"", b""]
        self.streams: set[int] = set()
        self.kids: list[int] = []
        self.objstm = objstm
        self.key: bytes | None = None
        self.encrypt = self.file_id = self.info = None

    def add(self, body: bytes) -> int:
        self.objects.append(body)
        return len(self.objects)

    def seal(self, num: int, data: bytes) -> bytes:
        if self.key is None:
            return data
        return _rc4(_obj_key(self.key, num, 0), data)

    def stream(self, entries: bytes, data: bytes, filters: list[str]) -> int:
        num = len(self.objects) + 1
        data, extra = _encode_chain(data, filters)
        self.streams.add(num)
        return self.add(_stream_obj(entries, self.seal(num, data), extra))

    def literal(self, s: bytes) -> bytes:
        """``s`` as a literal string inside the NEXT object added:
        sealed under that object's number unless the ObjStm packs it."""
        if not self.objstm:
            s = self.seal(len(self.objects) + 1, s)
        return _literal(s)

    def page(self, entries: bytes, content: int) -> None:
        self.kids.append(
            self.add(
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                + entries
                + b"/Contents %d 0 R >>" % content
            )
        )

    def secure(
        self, r: int, owner_pwd: bytes, user_pwd: bytes, file_id: bytes
    ) -> None:
        """Standard security handler setup (spec Algorithms 2-5): /R 3
        /V 2 128-bit, or the legacy 40-bit /R 2 /V 1 pair. Call before
        any object is added."""
        if r == 3:
            v, nbytes, length_bits = 2, 16, 128
        elif r == 2:
            v, nbytes, length_bits = 1, 5, 40
        else:
            raise ValueError("fixture writer supports R=2 or R=3")
        p = -44  # print allowed; modify/copy/annotate denied
        o_entry = _std_owner_entry(owner_pwd, user_pwd, r, nbytes)
        self.key = _std_file_key(user_pwd, o_entry, p, file_id, r, nbytes)
        u_check = _std_user_check(self.key, file_id, r)
        u_entry = u_check if r == 2 else u_check[:16] + bytes(16)
        self.file_id = file_id
        self.encrypt = (
            b"<< /Filter /Standard /V %d /R %d /Length %d /P %d /O %s /U %s >>"
            % (v, r, length_bits, p, _literal(o_entry), _literal(u_entry))
        )

    def serialize(
        self, compress: bool, xref_stream: bool, predictor: int,
        inherited: bytes,
    ) -> bytes:
        """The file with byte-exact offsets: a classic xref table, or
        (``xref_stream`` or ``objstm``) a PDF 1.5 cross-reference
        stream, Flate-compressed with ``compress`` and PNG-Up filtered
        with ``predictor`` 12. ``inherited`` entries go on the /Pages
        node, where every page inherits them (spec 7.7.3.4)."""
        xref_stream = xref_stream or self.objstm
        flate = ["FlateDecode"] if compress else []
        self.objects[0] = b"<< /Type /Catalog /Pages 2 0 R >>"
        self.objects[1] = (
            b"<< /Type /Pages " + inherited + b"/Kids ["
            + b" ".join(b"%d 0 R" % k for k in self.kids)
            + b"] /Count %d >>" % len(self.kids)
        )
        # rows[num] = (type, field 2, field 3) in the /W [1 4 2] layout
        rows: dict[int, tuple[int, int, int]] = {}
        file_nums = list(range(1, len(self.objects) + 1))
        if self.objstm:
            packed = [n for n in file_nums if n not in self.streams]
            file_nums = sorted(self.streams)
            offs, body = [], bytearray()
            for n in packed:
                offs.append(len(body))
                body += self.objects[n - 1] + b"\n"
            header = b" ".join(
                b"%d %d" % pair for pair in zip(packed, offs)
            ) + b"\n"
            stm = self.stream(
                b"/Type /ObjStm /N %d /First %d " % (len(packed), len(header)),
                header + bytes(body), flate,
            )
            file_nums.insert(0, stm)
            for idx, n in enumerate(packed):
                rows[n] = (2, stm, idx)
        trailer = b"/Root 1 0 R"
        if self.encrypt is not None:
            enc = self.add(self.encrypt)
            file_nums.append(enc)
            trailer += b" /Encrypt %d 0 R" % enc
        if self.info is not None:
            trailer += b" /Info %d 0 R" % self.info
        if self.file_id is not None:
            hex_id = self.file_id.hex().encode()
            trailer += b" /ID [<%s> <%s>]" % (hex_id, hex_id)

        out = bytearray(b"%PDF-1.5\n" if xref_stream else b"%PDF-1.4\n")
        for n in file_nums:
            rows[n] = (1, len(out), 0)
            out += b"%d 0 obj\n" % n + self.objects[n - 1] + b"\nendobj\n"
        xref_off = len(out)
        size = len(self.objects) + 1
        if not xref_stream:
            out += b"xref\n0 %d\n0000000000 65535 f \n" % size
            for n in range(1, size):
                out += b"%010d 00000 n \n" % rows[n][1]
            out += b"trailer\n<< /Size %d %s >>\nstartxref\n%d\n%%%%EOF\n" % (
                size, trailer, xref_off,
            )
            return bytes(out)

        rows[0] = (0, 0, 0xFFFF)
        rows[size] = (1, xref_off, 0)  # the XRef stream's own entry
        data = b"".join(
            bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
            for t, f2, f3 in (rows[n] for n in range(size + 1))
        )
        parms = b""
        if predictor == 12:
            # PNG Up over 7-byte rows — what real writers emit
            filtered = bytearray()
            prev = bytes(7)
            for r0 in range(0, len(data), 7):
                row = data[r0 : r0 + 7]
                filtered.append(2)
                filtered += bytes((row[i] - prev[i]) & 0xFF for i in range(7))
                prev = row
            data = bytes(filtered)
            parms = b" /DecodeParms << /Predictor 12 /Columns 7 >>"
        elif predictor != 1:
            raise ValueError("fixture writer supports predictor 1 or 12")
        if parms and not compress:
            raise ValueError("a predictor requires the Flate lane")
        data, extra = _encode_chain(data, flate)
        out += b"%d 0 obj\n" % size + _stream_obj(
            b"/Type /XRef /Size %d /W [1 4 2] %s " % (size + 1, trailer),
            data, extra + parms,
        ) + b"\nendobj\n"
        out += b"startxref\n%d\n%%%%EOF\n" % xref_off
        return bytes(out)


def _text_pages(
    table: _ObjectTable, pages: list[list], filters: list[str],
    note: str | None,
) -> None:
    """Adds the shared Helvetica /F1 and one page per ``pages`` entry,
    whose content stream (encoded for ``filters``) shows each element:
    a ``str`` as one Tj, a ``list`` of str/int as one TJ (strings shown,
    ints kerning). ``note`` plants a /Note literal in each page dict."""
    font = table.add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    for shows in pages:
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for show in shows:
            if isinstance(show, str):
                ops.append(_literal(show.encode("latin-1")) + b" Tj")
            else:
                items = b" ".join(
                    _literal(el.encode("latin-1"))
                    if isinstance(el, str)
                    else str(el).encode()
                    for el in show
                )
                ops.append(b"[" + items + b"] TJ")
            ops.append(b"0 -14 Td")
        ops.append(b"ET")
        content = table.stream(b"", b"\n".join(ops), filters)
        entries = b"/Resources << /Font << /F1 %d 0 R >> >> " % font
        if note is not None:
            entries += b"/Note " + table.literal(note.encode("latin-1")) + b" "
        table.page(entries, content)


def _cmap_stream_src(cmap: dict, width: int) -> bytes:
    """ToUnicode CMap source per PDF 32000-1 §9.10.3 — the standard
    Adobe-Identity-UCS prologue plus one bfchar block."""
    lo, hi = ("00", "ff") if width == 1 else ("0000", "ffff")
    lines = [
        b"/CIDInit /ProcSet findresource begin",
        b"12 dict begin",
        b"begincmap",
        b"/CMapName /Adobe-Identity-UCS def",
        b"/CMapType 2 def",
        b"1 begincodespacerange",
        b"<%s> <%s>" % (lo.encode(), hi.encode()),
        b"endcodespacerange",
        b"%d beginbfchar" % len(cmap),
    ]
    for code in sorted(cmap):
        src = code.to_bytes(width, "big").hex().encode()
        dst = cmap[code].encode("utf-16-be").hex().encode()
        lines.append(b"<%s> <%s>" % (src, dst))
    lines += [b"endbfchar", b"endcmap", b"end", b"end"]
    return b"\n".join(lines)


def encode_pdf_unicode(
    pages: list[list],
    fonts: dict,
    compress: bool = True,
    resources_on_pages_node: bool = False,
) -> bytes:
    """Fixture writer for the Unicode lane (classic xref, through the
    shared ``_ObjectTable`` serializer): ``fonts`` maps resource names
    to a spec —
    ``{"cmap": {code → str}, "width": 1|2}`` writes a /ToUnicode CMap
    stream, ``{"differences": {code → glyph_name}}`` writes a
    simple-font /Encoding dict, ``None`` a plain byte-transparent
    font. Each page is a list of shows ``(font_name_or_None,
    payload)``; a ``bytes`` payload emits raw code bytes, a ``str``
    payload emits a UTF-16BE (BOM) literal string.
    ``resources_on_pages_node`` hoists the shared /Resources dict to
    the /Pages node (the inheritable form real writers emit, spec
    7.7.3.4) instead of repeating it per page. The decode twin of
    the Unicode layer in ``_page_text`` / ``_font_decoder``."""
    table = _ObjectTable(False)
    flate = ["FlateDecode"] if compress else []
    font_nums: dict[str, int] = {}
    base = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
    for name, spec in fonts.items():
        if spec is None:
            font_nums[name] = table.add(base + b" >>")
        elif "cmap" in spec:
            src = _cmap_stream_src(spec["cmap"], spec.get("width", 2))
            tou_num = table.stream(b"", src, flate)
            font_nums[name] = table.add(
                base + b" /ToUnicode %d 0 R >>" % tou_num
            )
        elif "differences" in spec:
            parts = []
            for code in sorted(spec["differences"]):
                parts.append(b"%d /%s" % (
                    code, spec["differences"][code].encode("latin-1")
                ))
            font_nums[name] = table.add(
                base
                + b" /Encoding << /Type /Encoding /Differences ["
                + b" ".join(parts) + b"] >> >>"
            )
        else:
            raise ValueError(f"unknown font spec for {name!r}")
    res = (
        b"/Resources << /Font << "
        + b" ".join(
            b"/%s %d 0 R" % (n.encode("latin-1"), num)
            for n, num in font_nums.items()
        )
        + b" >> >> "
    )
    for shows in pages:
        ops = [b"BT"]
        for fname, payload in shows:
            if fname is not None:
                ops.append(b"/%s 12 Tf" % fname.encode("latin-1"))
            if isinstance(payload, str):
                payload = b"\xfe\xff" + payload.encode("utf-16-be")
            ops.append(_literal(payload) + b" Tj")
            ops.append(b"0 -14 Td")
        ops.append(b"ET")
        content = table.stream(b"", b"\n".join(ops), flate)
        table.page(b"" if resources_on_pages_node else res, content)
    return table.serialize(
        compress, False, 1, res if resources_on_pages_node else b""
    )


def encode_pdf(
    pages: list[list],
    compress: bool = True,
    xref_stream: bool = False,
    objstm: bool = False,
    xref_predictor: int = 1,
    filters: list[str] | None = None,
) -> bytes:
    """Fixture writer whose page ``p`` content stream renders
    ``pages[p]`` — each element a ``str`` (one Tj show) or a ``list``
    of str/int (one TJ show: strings shown, ints kerning) — with a
    shared Helvetica /F1, serialized by ``_ObjectTable``. The decode
    twin of ``pdf_text_pages``.

    Content streams are FlateDecode (``compress``) or, with
    ``filters``, encoded for that /Filter chain (e.g.
    ``["LZWDecode"]`` or ``["ASCII85Decode", "FlateDecode"]``).
    ``xref_stream`` writes the PDF 1.5 layout: a /Type /XRef
    cross-reference STREAM (``xref_predictor`` 1 or 12) instead of
    the classic table; ``objstm`` (implies xref_stream) additionally
    packs every non-stream object (catalog, pages node, font, page
    dicts) into one /Type /ObjStm with type-2 xref entries.
    Structural streams (ObjStm/XRef) stay Flate under ``compress``
    whatever the content filters, as real mixed-filter writers do."""
    table = _ObjectTable(objstm)
    _text_pages(
        table, pages, filters or (["FlateDecode"] if compress else []), None
    )
    return table.serialize(compress, xref_stream, xref_predictor, b"")


def encode_pdf_encrypted(
    pages: list[list],
    r: int = 3,
    owner_pwd: bytes = b"fixture-owner",
    title: str | None = None,
    filters: list[str] | None = None,
    user_pwd: bytes = b"",
    seed: bytes = b"",
    objstm: bool = False,
    note: str | None = None,
) -> bytes:
    """Fixture writer for the decryption lane: ``encode_pdf``'s pages
    with strings and stream bodies RC4-encrypted by the standard
    security handler (``_ObjectTable.secure``) under an EMPTY user
    password — /R 3 /V 2 /Length 128 by default, or the legacy 40-bit
    /R 2 /V 1 pair. Content streams are Flate, or encoded for
    ``filters`` under the cipher (decrypt THEN defilter, the spec
    order). ``title`` plants an /Info /Title string (the string-decrypt
    witness). ``objstm`` writes the PDF 1.5 layout encrypted PDFs ship:
    the ObjStm body encrypted as a whole, content streams per object,
    and an unencrypted XRef stream carrying /Encrypt and /ID. ``note``
    plants a /Note literal in each page dict; inside the ObjStm it must
    surface VERBATIM (a reader that wrongly re-decrypts ObjStm-inner
    strings garbles it). ``seed`` varies the /ID. A non-empty
    ``user_pwd`` writes a PDF the reader must refuse — the
    password-protected quarantine lane."""
    table = _ObjectTable(objstm)
    table.secure(
        r, owner_pwd, user_pwd,
        hashlib.md5(
            b"pdf-encrypt-fixture" + seed + repr(pages).encode()
        ).digest(),
    )
    _text_pages(table, pages, filters or ["FlateDecode"], note)
    if title is not None:
        table.info = table.add(
            b"<< /Title " + table.literal(title.encode("latin-1")) + b" >>"
        )
    return table.serialize(True, objstm, 1, b"")
