"""PDF text lane: byte-exact fixture roundtrips, the show-operator
extraction contract, scope fences, bomb guards, and the same
quarantine-fuzz battery as the media codecs."""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from etl_excel_csv_sql_spark.operators import pdf


def _doc(n_pages=2, mid=7, compress=True):
    shows = [
        [["doc ", -28, f"{mid} pa", 35, f"ge {k}"], "(ok)"]
        for k in range(n_pages)
    ]
    return pdf.encode_pdf(shows, compress=compress)


def test_roundtrip_tj_tj_and_escapes():
    payload = _doc(3, mid=42)
    assert pdf.pdf_meta(payload) == ("1.4", 3)
    assert pdf.pdf_text_pages(payload) == [
        f"doc 42 page {k} (ok)" for k in range(3)
    ]
    v, n, text, n_chars = pdf.pdf_text_report(payload)
    assert (v, n) == ("1.4", 3)
    assert text == "\n".join(f"doc 42 page {k} (ok)" for k in range(3))
    assert n_chars == len(text)
    # uncompressed twin extracts identically (filter lane vs raw lane)
    assert pdf.pdf_text_pages(_doc(3, 42, compress=False)) == (
        pdf.pdf_text_pages(payload)
    )


def test_string_escapes_and_hex_strings():
    # \ ( ) octal and named escapes through encode → extract
    tricky = "back\\slash (nested (parens)) tab\there"
    payload = pdf.encode_pdf([[tricky]])
    assert pdf.pdf_text_pages(payload) == [tricky]
    # a raw CR inside a literal reads back as LF in a conformant
    # reader (PDF 32000-1 §7.3.4.2): the writer must emit the \r escape
    raw = pdf.encode_pdf([["a\rb"]], compress=False)
    assert b"(a\\rb)" in raw and b"a\rb" not in raw
    assert pdf.pdf_text_pages(raw) == ["a\rb"]
    # hand-built content exercising hex strings and ' show
    lex_cases = [
        (b"(simple) Tj", "simple"),
        (b"(a\\(b\\)c) Tj", "a(b)c"),
        (b"(oct\\101al) Tj", "octAal"),
        (b"(nl\\nhere) Tj", "nl\nhere"),
        (b"<48656C6C6F> Tj", "Hello"),
        (b"<48656C6C6F7> Tj", "Hellop"),  # odd digits pad a 0
        (b"(x) '", "x"),
        (b'1 2 (y) "', "y"),
        (b"[(a) -120 (b) 35 (c)] TJ", "abc"),
        (b"BT /F1 12 Tf (in text block) Tj ET", "in text block"),
    ]
    for content, want in lex_cases:
        assert pdf._page_text(content) == want, content


def test_incremental_update_xref_chain():
    """An appended incremental update (new xref section with /Prev)
    must win for re-declared objects while older objects resolve
    through the chain."""
    base = pdf.encode_pdf([["original text"]], compress=False)
    # replace the content stream (object 4: catalog, pages, font,
    # stream, page) with a new revision appended at the end
    new_stream = b"<< /Length 17 >>\nstream\nBT (patched) Tj ET\nendstream"
    add = bytearray()
    obj_off = len(base)
    add += b"4 0 obj\n" + new_stream + b"\nendobj\n"
    xref_off = len(base) + len(add)
    add += b"xref\n4 1\n"
    add += b"%010d 00000 n \n" % obj_off
    prev = int(base.rsplit(b"startxref", 1)[1].split(b"%%EOF")[0])
    add += (
        b"trailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (prev, xref_off)
    )
    patched = base + bytes(add)
    assert pdf.pdf_text_pages(patched) == ["patched"]
    assert pdf.pdf_text_pages(base) == ["original text"]


def test_multiple_content_streams_form_one_logical_stream():
    base = pdf.encode_pdf([["seed"]], compress=False)
    doc = pdf._Document(base)
    page = pdf._walk_pages(doc)[0]
    assert doc.resolve(page.get("Contents")) is not None
    # hand-build: page with /Contents [a b] split MID-OPERATOR is out
    # of the fixture contract; split at an operator boundary is legal
    c1 = b"BT (first) Tj"
    c2 = b"(second) Tj ET"
    raw = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >>\nendobj\n"
    )
    raw = bytearray(raw)
    offs = {}
    for num, body in (
        (4, b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c1), c1)),
        (5, b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c2), c2)),
    ):
        offs[num] = len(raw)
        raw += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    # recompute offsets of objects 1-3 from the text
    for num in (1, 2, 3):
        offs[num] = raw.index(b"%d 0 obj" % num)
    xref_off = len(raw)
    raw += b"xref\n0 6\n0000000000 65535 f \n"
    for num in range(1, 6):
        raw += b"%010d 00000 n \n" % offs[num]
    raw += (
        b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % xref_off
    )
    assert pdf.pdf_text_pages(bytes(raw)) == ["first second"]


def test_scope_fences_raise_valueerror():
    good = _doc(1)
    # a corrupted xref keyword is neither a table nor an XRef object
    body = good.replace(b"xref\n0", b"XREF\n0", 1)
    with pytest.raises(ValueError):
        pdf.pdf_text_pages(body)
    # non-Flate filter (same-length name so the xref offsets stay true
    # and the FILTER fence, not offset staleness, is what fires)
    bad_filter = good.replace(
        b"/Filter /FlateDecode", b"/Filter /LZWDecodeXX"
    )
    with pytest.raises(ValueError, match="out of scope"):
        pdf.pdf_text_pages(bad_filter)


def test_truncated_flate_stream_raises_not_partial():
    """ADVICE r13: zlib.decompressobj().decompress() returns PARTIAL
    output silently for a truncated deflate stream — without the
    d.eof completeness check a corrupt PDF extracted silently wrong
    text instead of hitting the ValueError quarantine."""
    doc = object.__new__(pdf._Document)  # resolve() passes non-refs through
    data = zlib.compress(b"BT (hello world) Tj ET " * 40, 6)
    intact = pdf._Stream({"Filter": "FlateDecode"}, data).decoded(doc)
    assert intact.startswith(b"BT (hello world)")
    truncated = pdf._Stream({"Filter": "FlateDecode"}, data[:-6])
    with pytest.raises(ValueError, match="truncated FlateDecode"):
        truncated.decoded(doc)


def _doc15(n_pages=2, mid=7, compress=True, objstm=True):
    shows = [
        [["doc ", -28, f"{mid} pa", 35, f"ge {k}"], "(ok)"]
        for k in range(n_pages)
    ]
    return pdf.encode_pdf(
        shows, compress=compress, xref_stream=True, objstm=objstm
    )


def test_pdf15_xref_stream_and_objstm_roundtrip():
    """r13: the PDF 1.5 layout — xref STREAM + objects packed into an
    ObjStm — extracts identically to the classic-table twin."""
    want = [f"doc 42 page {k} (ok)" for k in range(3)]
    for kwargs in (
        dict(objstm=False),                 # xref stream, file objects
        dict(objstm=True),                  # + object stream
        dict(objstm=True, compress=False),  # raw xref/objstm lanes
    ):
        payload = _doc15(3, mid=42, **kwargs)
        assert pdf.pdf_meta(payload) == ("1.5", 3), kwargs
        assert pdf.pdf_text_pages(payload) == want, kwargs
    # classic and 1.5 layouts agree byte-for-byte on extracted text
    assert pdf.pdf_text_pages(_doc(3, 42)) == want


def test_pdf15_guards_and_quarantine():
    good = _doc15(2)
    # corrupt the compressed xref-stream payload (rindex on 'stream\n'
    # alone would land in the trailing 'endstream' text, not the data)
    buf = bytearray(good)
    i = good.rindex(b">>\nstream\n") + 10
    buf[i] ^= 0xFF
    buf[i + 1] ^= 0xFF
    with pytest.raises(ValueError):
        pdf.pdf_text_pages(bytes(buf))
    # truncation anywhere in the tail
    for cut in (10, 40, 120):
        with pytest.raises(ValueError):
            pdf.pdf_text_pages(good[:-cut])
    # mutation fuzz over the 1.5 layout: ValueError-only, same battery
    import numpy as np

    rng = np.random.RandomState(4242)
    trials = ok = quarantined = 0
    for payload in (_doc15(1), _doc15(2, compress=False)):
        for _ in range(100):
            buf = bytearray(payload)
            if rng.rand() < 0.3:
                buf = buf[: rng.randint(1, len(buf))]
            for _ in range(rng.randint(1, 5)):
                if buf:
                    buf[rng.randint(0, len(buf))] = rng.randint(0, 256)
            trials += 1
            try:
                pdf.pdf_text_report(bytes(buf))
                ok += 1
            except ValueError:
                quarantined += 1
    assert trials == ok + quarantined
    assert quarantined > 0


def test_predictor_12_xref_stream_roundtrip():
    """Real writers almost universally emit xref streams with
    /DecodeParms /Predictor 12 (PNG Up) — the lane must extract
    identically to the predictor-free twin."""
    shows = [[["doc ", -28, "9 pa", 35, "ge 0"], "(ok)"], ["two"]]
    plain = pdf.encode_pdf(shows, xref_stream=True, objstm=True)
    pred = pdf.encode_pdf(
        shows, xref_stream=True, objstm=True, xref_predictor=12
    )
    assert pred != plain
    assert b"/Predictor 12" in pred
    assert pdf.pdf_text_pages(pred) == pdf.pdf_text_pages(plain)
    assert pdf.pdf_meta(pred) == ("1.5", 2)


def test_apply_predictor_inverts_all_filters():
    """TIFF differencing and all five PNG row filters invert exactly
    (property: decode(encode(raw)) == raw on random bytes)."""
    import random

    rng = random.Random(7)
    colors, columns = 2, 5
    row_w = colors * columns
    rows = [
        bytes(rng.randrange(256) for _ in range(row_w)) for _ in range(6)
    ]
    raw = b"".join(rows)
    tiff = bytearray()
    for r in rows:
        row = bytearray(r)
        for i in range(row_w - 1, colors - 1, -1):
            row[i] = (row[i] - row[i - colors]) & 0xFF
        tiff += row
    assert pdf._apply_predictor(
        bytes(tiff), {"Predictor": 2, "Colors": colors, "Columns": columns}
    ) == raw

    def paeth(a, b, c):
        pp = a + b - c
        pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    enc = bytearray()
    prev = bytes(row_w)
    for k, r in enumerate(rows):
        ftype = k % 5  # exercise None/Sub/Up/Average/Paeth
        enc.append(ftype)
        for i in range(row_w):
            a = r[i - colors] if i >= colors else 0
            b = prev[i]
            c = prev[i - colors] if i >= colors else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) >> 1,
                    4: paeth(a, b, c)}[ftype]
            enc.append((r[i] - pred) & 0xFF)
        prev = r
    assert pdf._apply_predictor(
        bytes(enc), {"Predictor": 12, "Colors": colors, "Columns": columns}
    ) == raw
    # guards: unknown predictor / filter type, ragged rows, bad bpc
    with pytest.raises(ValueError):
        pdf._apply_predictor(b"\x00" * 10, {"Predictor": 9})
    with pytest.raises(ValueError):
        pdf._apply_predictor(
            b"\x07" + b"\x00" * 10, {"Predictor": 12, "Columns": 10}
        )
    with pytest.raises(ValueError):
        # 12 bytes over 11-byte rows (1 filter + 10 data) = ragged
        pdf._apply_predictor(
            b"\x00" * 12, {"Predictor": 12, "Columns": 10}
        )
    with pytest.raises(ValueError):
        pdf._apply_predictor(
            b"\x00" * 10, {"Predictor": 2, "BitsPerComponent": 16}
        )


def test_objstm_cycle_guard():
    """An ObjStm whose xref entry points the stream INTO ITSELF must
    quarantine, not recurse forever."""
    good = _doc15(1)
    doc = pdf._Document(good)
    stm_num = next(
        n for n, e in doc.offsets.items() if e[0] == "objstm"
    )
    stm_ref = doc.offsets[stm_num][1]
    fresh = pdf._Document(good)
    fresh.offsets[stm_ref] = ("objstm", stm_ref, 0)
    with pytest.raises(ValueError, match="cycle|ObjStm|missing"):
        fresh.obj(stm_ref)


def test_quarantine_battery():
    good = _doc(2)
    for bad in (
        b"",
        b"not a pdf",
        b"%PDF-1.4\n",                          # no xref
        good[:-30],                              # truncated startxref
        good.replace(b"/Root 1 0 R", b"/Rot 1 0 R"),
        good.replace(b"stream\n", b"striim\n", 1),
        good.replace(b"/Count", b"/Cnt", 1) if b"/Count" in good else b"x",
    ):
        with pytest.raises(ValueError):
            pdf.pdf_text_pages(bad)
    # corrupt flate bytes inside the stream
    buf = bytearray(good)
    i = good.index(b"stream\n") + 10
    buf[i] ^= 0xFF
    buf[i + 1] ^= 0xFF
    with pytest.raises(ValueError):
        pdf.pdf_text_pages(bytes(buf))


def test_mutation_fuzz_raises_only_valueerror():
    """Same battery as decode_image: bit flips and truncations must
    extract or raise ValueError — never another exception class."""
    rng = np.random.RandomState(777)
    valids = [_doc(1), _doc(3, mid=11), _doc(2, compress=False)]
    trials = ok = quarantined = 0
    for payload in valids:
        for _ in range(120):
            buf = bytearray(payload)
            if rng.rand() < 0.3:
                buf = buf[: rng.randint(1, len(buf))]
            for _ in range(rng.randint(1, 5)):
                if buf:
                    buf[rng.randint(0, len(buf))] = rng.randint(0, 256)
            trials += 1
            try:
                pdf.pdf_text_report(bytes(buf))
                ok += 1
            except ValueError:
                quarantined += 1
    assert trials == ok + quarantined
    assert quarantined > 0


def _udoc(mid=7):
    fonts = {
        "F1": {"cmap": {1: "α", 2: "中", 0x30: "А", 0x31: "Б"}, "width": 2},
        "F2": {"differences": {65: "alpha", 66: "bullet", 67: "eacute"}},
        "F3": None,
    }
    pages = [[
        ("F1", bytes([0, 1, 0, 2, 0, 0x30, 0, 0x31])),
        ("F2", b"ABC-%d" % mid),
        ("F3", f"Ω{mid}"),  # UTF-16BE BOM literal
        (None, b"plain"),        # still F3: byte-transparent
    ]]
    return pdf.encode_pdf_unicode(pages, fonts)


def test_unicode_roundtrip_all_three_mechanisms():
    """r14 Unicode layer: ToUnicode CMap (2-byte), /Differences AGL
    names, and UTF-16BE BOM literals, in one page with Tf switches."""
    got = pdf.pdf_text_pages(_udoc(9))
    assert got == ["α中АБ α•é-9 Ω9 plain"]
    # uncompressed twin (raw CMap stream lane)
    raw = pdf.encode_pdf_unicode(
        [[("F1", bytes([0, 1]))]],
        {"F1": {"cmap": {1: "ß"}, "width": 2}},
        compress=False,
    )
    assert pdf.pdf_text_pages(raw) == ["ß"]


def test_parse_cmap_bfrange_and_width():
    src = b"""
/CIDInit /ProcSet findresource begin
begincmap
1 begincodespacerange <00> <ff> endcodespacerange
2 beginbfchar <41> <0041> <42> <00470048> endbfchar
1 beginbfrange <50> <53> <0410> endbfrange
1 beginbfrange <60> <61> [<2713> <2714>] endbfrange
endcmap
"""
    cmap, width = pdf._parse_cmap(src)
    assert width == 1
    assert cmap[0x41] == "A"
    assert cmap[0x42] == "GH"  # multi-unit bfchar destination
    # hex bfrange increments the LAST code unit
    assert [cmap[0x50 + k] for k in range(4)] == ["А", "Б", "В", "Г"]
    assert cmap[0x60] == "✓" and cmap[0x61] == "✔"
    # mixed widths are fenced
    with pytest.raises(ValueError, match="mixed CMap code widths"):
        pdf._parse_cmap(
            b"2 begincodespacerange <00> <ff> <0000> <ffff> "
            b"endcodespacerange"
        )
    # bfrange bomb guard
    with pytest.raises(ValueError, match="entry guard"):
        pdf._parse_cmap(
            b"1 begincodespacerange <0000> <ffff> endcodespacerange "
            b"1 beginbfrange <0000> <ffff> <0041> endbfrange "
            b"1 beginbfrange <0000> <ffff> <0042> endbfrange"
        )


def test_glyph_to_unicode_resolution_order():
    assert pdf._glyph_to_unicode("alpha") == "α"
    assert pdf._glyph_to_unicode("a") == "a"          # single ASCII
    assert pdf._glyph_to_unicode("uni0414") == "Д"    # systematic form
    assert pdf._glyph_to_unicode("u1F600") == "😀"    # u + 5/6 hex
    assert pdf._glyph_to_unicode("gXYZ99") == "�"     # unresolvable
    assert pdf._glyph_to_unicode("uniD800") == "�"    # surrogate fenced


def test_unicode_decode_edges():
    # odd-length show string under a 2-byte CMap: trailing U+FFFD
    dec = pdf._FontDecoder({1: "x"}, 2, None)
    assert dec.decode(bytes([0, 1, 0])) == "x�"
    # unmapped 2-byte code
    assert dec.decode(bytes([0, 9])) == "�"
    # 1-byte cmap falls through to differences then latin-1
    dec1 = pdf._FontDecoder({0x41: "α"}, 1, {0x42: "β"})
    assert dec1.decode(b"ABz") == "αβz"


def test_resources_inherit_from_pages_node():
    """/Resources is inheritable (spec 7.7.3.4): a page without its
    own entry must decode through the nearest ancestor's font dict —
    real writers factor shared fonts up the tree."""
    fonts = {"F1": {"cmap": {1: "Ж", 2: "ю"}, "width": 2}}
    pages = [
        [("F1", bytes([0, 1]))],
        [("F1", bytes([0, 2]))],
    ]
    doc = pdf.encode_pdf_unicode(
        pages, fonts, resources_on_pages_node=True
    )
    assert b"/Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents" \
        in doc  # the page dicts really have no /Resources of their own
    assert pdf.pdf_text_pages(doc) == ["Ж", "ю"]


def test_unicode_mutation_fuzz_raises_only_valueerror():
    """The r13 fuzz battery extended to the CMap/Differences parsers
    (VERDICT r13 #4): mutated Unicode-lane PDFs extract or raise
    ValueError — never another exception class."""
    rng = np.random.RandomState(1414)
    valids = [_udoc(1), _udoc(42)]
    trials = ok = quarantined = 0
    for payload in valids:
        for _ in range(120):
            buf = bytearray(payload)
            if rng.rand() < 0.3:
                buf = buf[: rng.randint(1, len(buf))]
            for _ in range(rng.randint(1, 5)):
                if buf:
                    buf[rng.randint(0, len(buf))] = rng.randint(0, 256)
            trials += 1
            try:
                pdf.pdf_text_report(bytes(buf))
                ok += 1
            except ValueError:
                quarantined += 1
    assert trials == ok + quarantined
    assert quarantined > 0


def test_bomb_guards():
    # inflate guard: a content stream declaring a small /Length whose
    # flate output would exceed the cap
    bomb = zlib.compress(b"\x00" * (pdf.MAX_CONTENT_BYTES + 100), 9)
    raw = pdf.encode_pdf([["x"]], compress=False)
    # splice the bomb in place of the content stream
    start = raw.index(b"stream\n") + 7
    end = raw.index(b"\nendstream")
    patched = (
        raw[: raw.index(b"/Length ")]
        + b"/Length %d /Filter /FlateDecode" % len(bomb)
        + raw[raw.index(b" >>\nstream") : start]
        + bomb
        + raw[end:]
    )
    # offsets after the stream moved, so go through a rebuilt doc
    # instead: hand-check the filter path directly
    s = pdf._Stream({"Filter": "FlateDecode", "Length": len(bomb)}, bomb)

    class _D:
        def resolve(self, v, depth=0):
            return v

    with pytest.raises(ValueError, match="inflate guard"):
        s.decoded(_D())
    del patched
    # page-tree depth guard
    raw = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [2 0 R] /Count 1 >>\nendobj\n"
    )
    raw = bytearray(raw)
    o1 = raw.index(b"1 0 obj")
    o2 = raw.index(b"2 0 obj")
    xref_off = len(raw)
    raw += b"xref\n0 3\n0000000000 65535 f \n"
    raw += b"%010d 00000 n \n%010d 00000 n \n" % (o1, o2)
    raw += (
        b"trailer\n<< /Size 3 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % xref_off
    )
    with pytest.raises(ValueError, match="depth guard"):
        pdf.pdf_text_pages(bytes(raw))


def test_pdf_parsers_wear_the_valueerror_decorator():
    """The 29th/30th/31st parsers join the decorator pin (the codecs
    battery pins its own set; an orphaned decorator once let
    struct.error escape)."""
    for name in ("pdf_meta", "pdf_text_pages", "pdf_text_report"):
        assert hasattr(getattr(pdf, name), "__wrapped__"), name


def test_extract_pdf_text_kernel_lenient_and_strict(spark):
    from etl_excel_csv_sql_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(0,), (1,), (2,), (5,)], "doc_id long"
    )
    pdfs = multimodal.synth_pdf_payloads(docs)
    media = multimodal.to_media_column(pdfs, "media_id", "payload", "doc")
    rows = {
        r["media_id"]: r
        for r in multimodal.extract_pdf_text(media, strict=True).collect()
    }
    for i in (0, 1, 2, 5):
        want = "\n".join(multimodal.synth_pdf_pages(i))
        assert rows[i]["text"] == want
        assert rows[i]["n_pages"] == 1 + i % 3
        assert rows[i]["version"] == "1.4"
        assert rows[i]["n_chars"] == len(want)
    # lenient: a corrupt payload degrades to nulls, strict raises
    bad = spark.createDataFrame(
        [(9, bytearray(b"not a pdf"))], "media_id long, payload binary"
    )
    out = multimodal.extract_pdf_text(bad).collect()
    assert out[0]["text"] is None and out[0]["n_pages"] is None
    with pytest.raises(Exception, match="PDF|pdf"):
        multimodal.extract_pdf_text(bad, strict=True).collect()


def test_inline_images_skip_not_quarantine():
    """Real page streams carry inline images (BI..ID..EI, spec 8.9.7)
    constantly; the extractor must skip the binary sample data —
    including embedded 'EI' bytes NOT at a whitespace boundary —
    instead of quarantining the document over an image it doesn't
    decode."""
    binary = b"\x00\x01EIX\xff\xfe" * 3  # 'EI' inside the data
    content = (
        b"BT /F1 12 Tf (before) Tj ET\n"
        b"BI /W 2 /H 2 /CS /G /BPC 8 ID " + binary + b" EI\n"
        b"BT (after) Tj ET"
    )
    assert pdf._page_text(content) == "before after"
    # unterminated inline image still raises
    import pytest as _pytest

    bad = b"BI /W 1 ID \x00\x01\x02"
    with _pytest.raises(ValueError, match="not terminated"):
        pdf._page_text(bad)


# --- r15: LZWDecode filter + standard-security-handler decrypt ------


def test_lzw_codec_roundtrip_and_width_edges():
    """MSB-first PDF LZW: the encoder/decoder pair must roundtrip
    through every width switch (9→12 bits), the /EarlyChange 0/1
    off-by-one, and a full table reset (Clear mid-stream)."""
    import os
    rng = np.random.RandomState(15)
    samples = [
        b"", b"a", b"ab" * 300,
        bytes(range(256)) * 40,
        b"the quick brown fox jumps over the lazy dog " * 1200,
        bytes(rng.randint(0, 4, size=30000, dtype=np.uint8)),  # resets
        os.urandom(5000),
    ]
    for early in (0, 1):
        for s in samples:
            assert pdf._lzw_decode(pdf._lzw_encode(s, early), early) == s


def test_lzw_malformed_raises_valueerror():
    enc = pdf._lzw_encode(b"hello hello hello")
    with pytest.raises(ValueError, match="no EOD"):
        pdf._lzw_decode(enc[:-2] if len(enc) > 2 else b"")
    # first code after Clear must be a literal
    bad = bytes([0x80, 0x40, 0x20])  # Clear(256=0b100000000), then 258
    with pytest.raises(ValueError):
        pdf._lzw_decode(bad)
    with pytest.raises(ValueError, match="EarlyChange"):
        pdf._lzw_decode(b"", early=7)


def test_lzw_pdf_roundtrip_and_earlychange_parm():
    data = pdf.encode_pdf(
        [[["doc ", -28, "7 pa", 35, "ge 0"], "(ok)"], ["second"]],
        filters=["LZWDecode"],
    )
    assert b"/LZWDecode" in data
    assert pdf.pdf_text_pages(data) == [
        "doc 7 page 0 (ok)", "second"
    ]
    # an explicit /DecodeParms << /EarlyChange 1 >> is the default
    doc = object.__new__(pdf._Document)
    raw = pdf._lzw_encode(b"BT (x) Tj ET")
    out = pdf._Stream(
        {"Filter": "LZWDecode",
         "DecodeParms": {"EarlyChange": 1}},
        raw,
    ).decoded(doc)
    assert out == b"BT (x) Tj ET"
    raw0 = pdf._lzw_encode(b"BT (y) Tj ET", early=0)
    out0 = pdf._Stream(
        {"Filter": "LZWDecode",
         "DecodeParms": {"EarlyChange": 0}},
        raw0,
    ).decoded(doc)
    assert out0 == b"BT (y) Tj ET"


def _edoc(n_pages=2, mid=7, **kwargs):
    shows = [
        [["doc ", -28, f"{mid} pa", 35, f"ge {k}"], "(ok)"]
        for k in range(n_pages)
    ]
    return pdf.encode_pdf_encrypted(shows, **kwargs)


def test_rc4_empty_user_password_roundtrip_r2_and_r3():
    """Spec Algorithms 1/2/4/5: both revisions decrypt with the empty
    user password; the encrypted /Info /Title witnesses STRING
    decryption (content streams witness stream decryption)."""
    for r in (2, 3):
        data = _edoc(r=r, title="Quarterly Report")
        assert pdf.pdf_text_pages(data) == [
            "doc 7 page 0 (ok)", "doc 7 page 1 (ok)"
        ]
        doc = pdf._Document(data)
        info = doc.resolve(doc.trailer.get("Info"))
        assert info["Title"] == b"Quarterly Report"


def test_rc4_with_lzw_stacked_under_cipher():
    """Decrypt THEN defilter — the spec order; both machines compose."""
    data = _edoc(r=3, filters=["LZWDecode"])
    assert pdf.pdf_text_pages(data) == [
        "doc 7 page 0 (ok)", "doc 7 page 1 (ok)"
    ]


def test_encryption_fences_raise_distinct_valueerrors():
    """Each out-of-scope encryption class raises a DISTINCT message so
    quarantine loss is measurable per class."""
    good = _edoc(r=3)
    with pytest.raises(ValueError, match="password is not empty"):
        pdf.pdf_text_pages(_edoc(user_pwd=b"real-password"))
    aes = good.replace(b"/V 2", b"/V 4")
    with pytest.raises(ValueError, match="AES / crypt filters"):
        pdf.pdf_text_pages(aes)
    handler = good.replace(b"/Filter /Standard", b"/Filter /Standarx")
    with pytest.raises(ValueError, match="Standard security handler"):
        pdf.pdf_text_pages(handler)
    rev = good.replace(b"/R 3", b"/R 5")
    with pytest.raises(ValueError, match="/R"):
        pdf.pdf_text_pages(rev)
    # corrupting /U makes the empty-password check fail → the
    # password fence, not silent mojibake
    u_at = good.find(b"/U (")
    assert u_at > 0
    corrupt = bytearray(good)
    corrupt[u_at + 4] ^= 0xFF
    # byte may have been an escape-significant char; only ValueError
    # classes are acceptable either way
    with pytest.raises(ValueError):
        pdf.pdf_text_pages(bytes(corrupt))


def test_encrypted_mutation_fuzz_raises_only_valueerror():
    """The codec-wide fuzz contract extended over the r15 lanes:
    LZW-filtered and RC4-encrypted fixtures under bit flips and
    truncations extract or raise ValueError — never another class."""
    rng = np.random.RandomState(1515)
    valids = [
        pdf.encode_pdf([["lzw page"]], filters=["LZWDecode"]),
        _edoc(r=2), _edoc(r=3, filters=["LZWDecode"], title="t"),
    ]
    trials = ok = quarantined = 0
    for payload in valids:
        for _ in range(100):
            buf = bytearray(payload)
            if rng.rand() < 0.3:
                buf = buf[: rng.randint(1, len(buf))]
            for _ in range(rng.randint(1, 5)):
                if buf:
                    buf[rng.randint(0, len(buf))] = rng.randint(0, 256)
            trials += 1
            try:
                pdf.pdf_text_report(bytes(buf))
                ok += 1
            except ValueError:
                quarantined += 1
    assert trials == ok + quarantined
    assert quarantined > 0


def test_ascii_and_runlength_filters_roundtrip_and_chains():
    """r15: ASCIIHex/ASCII85/RunLength codecs + the /Filter LIST
    decode path (first-to-last order, the 7-bit-safe classic
    stacking)."""
    import os
    rng = np.random.RandomState(85)
    samples = [
        b"", b"a", b"aaaa" * 200, bytes(range(256)),
        os.urandom(3000),
        bytes(rng.randint(0, 3, size=5000, dtype=np.uint8)),
    ]
    for s in samples:
        assert pdf._runlength_decode(pdf._runlength_encode(s)) == s
        assert pdf._asciihex_decode(s.hex().encode() + b">") == s
        import base64
        assert pdf._ascii85_decode(base64.a85encode(s) + b"~>") == s
    shows = [[["doc ", -28, "7 pa", 35, "ge 0"], "(ok)"], ["two"]]
    for chain in (
        ["ASCII85Decode", "FlateDecode"],
        ["ASCIIHexDecode", "LZWDecode"],
        ["RunLengthDecode"],
        ["ASCII85Decode", "RunLengthDecode"],
        ["ASCIIHexDecode"],
    ):
        data = pdf.encode_pdf(shows, filters=chain)
        assert pdf.pdf_text_pages(data) == [
            "doc 7 page 0 (ok)", "two"
        ], chain
    # whitespace tolerance + Adobe <~ framing + odd hex digit
    assert pdf._asciihex_decode(b"41 4\n2 4>") == b"AB@"
    import base64
    framed = b"<~" + base64.a85encode(b"hi") + b"~>"
    assert pdf._ascii85_decode(framed) == b"hi"


def test_ascii_filters_malformed_raise_valueerror():
    for fn, bad in [
        (pdf._asciihex_decode, b"4142"),      # missing '>'
        (pdf._asciihex_decode, b"4g>"),       # non-hex
        (pdf._ascii85_decode, b"abcd"),       # missing '~>'
        (pdf._ascii85_decode, b"\x7f\x7f~>"),  # out-of-alphabet
        (pdf._runlength_decode, b"\x05ab"),   # literal overrun
        (pdf._runlength_decode, b"\x01ab"),   # missing EOD
        (pdf._runlength_decode, b"\xfe"),     # repeat overrun
    ]:
        with pytest.raises(ValueError):
            fn(bad)


def test_encrypted_pdf15_objstm_layout_roundtrip():
    """The encryption × PDF 1.5 COMBINATION real encrypted PDFs ship:
    ObjStm body RC4-encrypted AS A WHOLE (inner objects plaintext
    after that one decrypt — the spec exemption), content streams
    per-object, XRef stream UNENCRYPTED carrying /Encrypt + /ID. The
    planted /Note string inside a packed page dict must surface
    VERBATIM — a reader that wrongly re-decrypts ObjStm-inner strings
    garbles it."""
    shows = [[["doc ", -28, "7 pa", 35, "ge 0"], "(ok)"], ["second"]]
    for r in (2, 3):
        data = pdf.encode_pdf_encrypted(
            shows, r=r, objstm=True, note="plain inner"
        )
        assert pdf.pdf_text_pages(data) == [
            "doc 7 page 0 (ok)", "second"
        ]
        doc = pdf._Document(data)
        root = doc.resolve(doc.trailer["Root"])
        page0 = doc.resolve(doc.resolve(root["Pages"])["Kids"][0])
        assert page0["Note"] == b"plain inner"
    # password fence holds in the 1.5 layout too
    locked = pdf.encode_pdf_encrypted(shows, objstm=True).replace(
        b"/P -44", b"/P -45"
    )
    with pytest.raises(ValueError):
        pdf.pdf_text_pages(locked)


def test_encrypted_pdf15_mutation_fuzz_raises_only_valueerror():
    rng = np.random.RandomState(155)
    payload = pdf.encode_pdf_encrypted(
        [[["doc ", -28, "7 pa", 35, "ge 0"], "(ok)"]], objstm=True, note="n"
    )
    trials = ok = quarantined = 0
    for _ in range(150):
        buf = bytearray(payload)
        if rng.rand() < 0.3:
            buf = buf[: rng.randint(1, len(buf))]
        for _ in range(rng.randint(1, 5)):
            if buf:
                buf[rng.randint(0, len(buf))] = rng.randint(0, 256)
        trials += 1
        try:
            pdf.pdf_text_report(bytes(buf))
            ok += 1
        except ValueError:
            quarantined += 1
    assert trials == ok + quarantined
    assert quarantined > 0
