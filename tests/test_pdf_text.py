"""Round-trip tests for the from-spec builtin PDF text extractor
(sources/pdf_text.py): an independently-written minimal spec-conformant
PDF WRITER here builds real %PDF files (proper xref/trailer, FlateDecode
streams, CID font with ToUnicode CMap), and the extractor must read the
text back — the operators/xls_writer.py round-trip strategy applied to
S3. Also covers the decode_document dispatch: with neither pdfplumber
nor pypdf installed (this container), real PDF bytes must decode via the
builtin instead of quarantining."""

from __future__ import annotations

import time
import zlib

import pytest


def build_pdf(objects: list[bytes]) -> bytes:
    """Assemble numbered objects (1-based, in order) into a valid PDF:
    header, bodies, xref table, trailer. Object 1 must be the Catalog."""
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = []
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objects) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_at)
    )
    return bytes(out)


def stream_obj(payload: bytes, extra: bytes = b"", compress: bool = False) -> bytes:
    if compress:
        payload = zlib.compress(payload)
        extra += b" /Filter /FlateDecode"
    return (
        b"<< /Length %d%s >>\nstream\n" % (len(payload), extra)
        + payload
        + b"\nendstream"
    )


def simple_pdf(
    content: bytes, compress: bool = False, font_extra: bytes = b""
) -> bytes:
    return build_pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
            stream_obj(content, compress=compress),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            + font_extra
            + b" >>",
        ]
    )


def test_plain_ascii_tj():
    from fund_data_etl_pipeline_spark.sources.pdf_text import extract_pdf_text

    pdf = simple_pdf(b"BT /F1 12 Tf 72 720 Td (Fund Report 2025) Tj ET")
    assert extract_pdf_text(pdf) == "Fund Report 2025"


def test_flate_tj_array_and_lines():
    """FlateDecode content; TJ array concatenates runs; Td/T* break
    lines; literal-string escapes and octal decode."""
    from fund_data_etl_pipeline_spark.sources.pdf_text import extract_pdf_text

    content = (
        b"BT /F1 10 Tf 72 720 Td [(amount:) -250 (123.45)] TJ "
        b"0 -14 Td (line\\(2\\) \\101\\102) Tj ET"
    )
    pdf = simple_pdf(content, compress=True)
    assert extract_pdf_text(pdf) == "amount:123.45\nline(2) AB"


def test_cid_font_tounicode_chinese():
    """2-byte CID codes through a ToUnicode CMap (bfchar + bfrange) must
    come out as real Chinese text — the encoding path the reference's
    announcement corpus needs."""
    from fund_data_etl_pipeline_spark.sources.pdf_text import extract_pdf_text

    # bfchar: 0001->基 0002->金; bfrange 0003..0005 -> U+5206..U+5208
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n"
        b"begincmap\n"
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"2 beginbfchar\n"
        b"<0001> <57FA>\n"
        b"<0002> <91D1>\n"
        b"endbfchar\n"
        b"1 beginbfrange\n"
        b"<0003> <0005> <5206>\n"
        b"endbfrange\n"
        b"endcmap\nend\n"
    )
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        stream_obj(b"BT /F1 12 Tf <00010002> Tj <000300040005> Tj ET"),
        b"<< /Type /Font /Subtype /Type0 /BaseFont /STSong-Light "
        b"/Encoding /Identity-H /ToUnicode 6 0 R >>",
        stream_obj(cmap, compress=True),
    ]
    pdf = build_pdf(objects)
    assert extract_pdf_text(pdf) == "基金" + chr(0x5206) + chr(0x5207) + chr(0x5208)


def test_multipage_and_quote_operator():
    from fund_data_etl_pipeline_spark.sources.pdf_text import extract_pdf_text

    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>",
        b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 7 0 R >> >>"
        b" /Contents 5 0 R >>",
        b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 7 0 R >> >>"
        b" /Contents 6 0 R >>",
        stream_obj(b"BT /F1 9 Tf (page one) Tj ET"),
        stream_obj(b"BT /F1 9 Tf (first) Tj (second) ' ET"),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
    ]
    pdf = build_pdf(objects)
    assert extract_pdf_text(pdf) == "page one\nfirst\nsecond"


@pytest.mark.parametrize(
    "filler",
    [b" ", b"100.5 200.25 m 300 200 l S\n"],
    ids=["whitespace", "path_operators"],
)
def test_megabyte_content_stream_decodes_in_linear_time(filler):
    """1 MB of content that shows no text decodes in well under a second.
    A tokenizer that matches on ``content[i:]`` copies the rest of the
    stream at every such byte: about 13 s for 1 MB of spaces."""
    from fund_data_etl_pipeline_spark.sources.pdf_text import extract_pdf_text

    body = filler * (2**20 // len(filler))
    pdf = simple_pdf(
        b"BT /F1 12 Tf (head) Tj ET\n" + body + b"BT (tail) Tj ET",
        compress=True,
    )
    start = time.perf_counter()
    text = extract_pdf_text(pdf)
    assert time.perf_counter() - start < 1.0
    assert text == "head\ntail"


def test_unsupported_filter_names_the_problem():
    import pytest

    from fund_data_etl_pipeline_spark.sources.pdf_text import extract_pdf_text

    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length 4 /Filter /DCTDecode >>\nstream\n\xff\xd8\xff\xe0\nendstream",
    ]
    with pytest.raises(ValueError, match="DCTDecode"):
        extract_pdf_text(build_pdf(objects))


def test_decode_document_uses_builtin_for_real_pdfs():
    """In this container (no pdfplumber/pypdf) decode_document must
    route real %PDF bytes through the builtin extractor — S3 works, not
    just quarantines."""
    from fund_data_etl_pipeline_spark.sources.corpus import decode_document

    pdf = simple_pdf(b"BT /F1 12 Tf (dispatch works) Tj ET", compress=True)
    assert decode_document(pdf) == "dispatch works"


def _fake_pdf_library(name: str):
    """A module with the call surface decode_document uses of ``name``:
    pdfplumber's ``open`` context manager or pypdf's ``PdfReader``."""
    import contextlib
    import types

    page = types.SimpleNamespace(extract_text=lambda: f"read by {name}")
    pdf = types.SimpleNamespace(pages=[page])
    mod = types.ModuleType(name)
    mod.open = lambda buf: contextlib.nullcontext(pdf)
    mod.PdfReader = lambda buf: pdf
    return mod


@pytest.mark.parametrize(
    "installed, expected",
    [
        (("pdfplumber", "pypdf"), "read by pdfplumber"),
        (("pdfplumber",), "read by pdfplumber"),
        (("pypdf",), "read by pypdf"),
        ((), "dispatch works"),  # the builtin extractor
    ],
)
def test_pdf_codec_choice_resolved_once(monkeypatch, installed, expected):
    """pdfplumber wins over pypdf, pypdf over the builtin; the choice is
    made on the first PDF and kept, so a library that disappears later
    is not looked up again."""
    import sys

    from fund_data_etl_pipeline_spark.sources.corpus import decode_document, pdf_codec

    pdf = simple_pdf(b"BT /F1 12 Tf (dispatch works) Tj ET", compress=True)
    for name in ("pdfplumber", "pypdf"):
        # None in sys.modules makes the import raise ImportError
        lib = _fake_pdf_library(name) if name in installed else None
        monkeypatch.setitem(sys.modules, name, lib)
    pdf_codec.cache_clear()
    try:
        assert decode_document(pdf) == expected
        for name in ("pdfplumber", "pypdf"):
            monkeypatch.setitem(sys.modules, name, None)
        assert decode_document(pdf) == expected
    finally:
        pdf_codec.cache_clear()


def test_decode_document_quarantines_encrypted(tmp_path):
    import pytest

    from fund_data_etl_pipeline_spark.sources.pdf_text import extract_pdf_text

    pdf = simple_pdf(b"BT (x) Tj ET").replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R"
    )
    with pytest.raises(ValueError, match="encrypted"):
        extract_pdf_text(pdf)


def _escape_literal(s: str) -> bytes:
    """PDF literal-string escaping for the in-test writer (§7.3.4.2)."""
    out = bytearray()
    for b in s.encode("latin-1"):
        if b in (0x5C, 0x28, 0x29):  # \ ( )
            out += b"\\" + bytes([b])
        else:
            out.append(b)
    return bytes(out)


def test_roundtrip_property_random_latin1_text():
    """Property: any Latin-1 text line (parens, backslashes, digits …)
    written as an escaped literal string survives the writer->extractor
    round trip byte-identically."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fund_data_etl_pipeline_spark.sources.pdf_text import extract_pdf_text

    @settings(max_examples=30, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(min_codepoint=0x20, max_codepoint=0xFF),
            min_size=1,
            max_size=80,
        )
    )
    def prop(s):
        content = b"BT /F1 10 Tf (" + _escape_literal(s) + b") Tj ET"
        pdf = simple_pdf(content, compress=True)
        assert extract_pdf_text(pdf) == s

    prop()


def test_encrypt_after_first_eof_still_quarantines():
    """Incremental updates append a second body + trailer after the
    first %%EOF; /Encrypt living only in the appended trailer must still
    quarantine (the r5 prefix-scan bug decoded such files to garbage)."""
    import pytest

    from fund_data_etl_pipeline_spark.sources.pdf_text import extract_pdf_text

    base = simple_pdf(b"BT (x) Tj ET")
    updated = base + (
        b"7 0 obj\n<< /Filter /Standard /V 1 >>\nendobj\n"
        b"trailer\n<< /Size 8 /Root 1 0 R /Encrypt 7 0 R /Prev 9 >>\n"
        b"startxref\n9\n%%EOF\n"
    )
    with pytest.raises(ValueError, match="encrypted"):
        extract_pdf_text(updated)


def test_binary_stream_payload_containing_object_keywords():
    """A stream payload containing ``endobj`` / ``N G obj`` /
    ``endstream`` ASCII must not truncate the object scan or spawn
    phantom objects — /Length is honored to skip the payload."""
    from fund_data_etl_pipeline_spark.sources.pdf_text import extract_pdf_text

    marker = b"\nendobj\n9 0 obj\nendstream\n"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R"
        b" >> >> /Contents 4 0 R >>",
        stream_obj(b"BT /F1 8 Tf (before " + marker + b" after) Tj ET"),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = extract_pdf_text(build_pdf(objects))
    assert "before" in out and "after" in out


def test_indirect_length_reference_resolved():
    """/Length given as an indirect integer-object reference (§7.3.8.2)
    must resolve and bound the payload skip."""
    from fund_data_etl_pipeline_spark.sources.pdf_text import extract_pdf_text

    content = b"BT /F1 8 Tf (indirect length endobj inside) Tj ET"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R"
        b" >> >> /Contents 4 0 R >>",
        b"<< /Length 6 0 R >>\nstream\n" + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"%d" % len(content),
    ]
    assert (
        extract_pdf_text(build_pdf(objects))
        == "indirect length endobj inside"
    )


def test_backslash_crlf_continuation_elides_whole_eol():
    """§7.3.4.2: \\<CRLF> is ONE elided end-of-line — the continued
    literal must not gain a spurious newline from the LF half."""
    from fund_data_etl_pipeline_spark.sources.pdf_text import extract_pdf_text

    pdf = simple_pdf(b"BT /F1 8 Tf (contin\\\r\nued) Tj ET")
    assert extract_pdf_text(pdf) == "continued"


def test_backslash_before_non_octal_digit_is_dropped():
    """§7.3.4.2: \\8 and \\9 are not octal escapes — the backslash is
    ignored and the digit kept, instead of the file quarantining."""
    from fund_data_etl_pipeline_spark.sources.pdf_text import extract_pdf_text

    pdf = simple_pdf(b"BT /F1 8 Tf (a\\8b) Tj ET")
    assert extract_pdf_text(pdf) == "a8b"
    pdf = simple_pdf(b"BT /F1 8 Tf (\\9\\1018) Tj ET")
    assert extract_pdf_text(pdf) == "9A8"


# --- round-6 upgrades: LZW / ASCIIHex / ASCII85 filters + /ObjStm ---------

class _MSBWriter:
    """Packs variable-width codes MSB-first; remembers each (code, width)
    so tests can see the width bumps and clears the encoder chose."""

    def __init__(self):
        self.acc = 0
        self.nbits = 0
        self.out = bytearray()
        self.codes: list[tuple[int, int]] = []

    def put(self, code, width):
        self.codes.append((code, width))
        self.acc = (self.acc << width) | code
        self.nbits += width
        while self.nbits >= 8:
            self.out.append((self.acc >> (self.nbits - 8)) & 0xFF)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            self.out.append((self.acc << (8 - self.nbits)) & 0xFF)
        return bytes(self.out)


def _lzw_codes(data: bytes) -> _MSBWriter:
    """Independent LZW compressor, the forward direction of §7.4.4.2
    with EarlyChange = 1: a dict keyed by byte strings, Clear first,
    and a Clear again when the table nears 4096 entries."""
    CLEAR, EOD = 256, 257
    w = _MSBWriter()

    def fresh():
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, next_code, width = fresh()
    w.put(CLEAR, width)
    run = b""
    for byte in data:
        cand = run + bytes([byte])
        if cand in table:
            run = cand
            continue
        w.put(table[run], width)
        table[cand] = next_code
        # early change: the bump keys on the just-ASSIGNED entry index
        # reaching 2^width - 1 (one earlier than GIF's 2^width)
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        next_code += 1
        if next_code >= 4094:
            w.put(CLEAR, width)
            table, next_code, width = fresh()
        run = bytes([byte])
    if run:
        w.put(table[run], width)
    w.put(EOD, width)
    return w


def lzw_encode(data: bytes) -> bytes:
    return _lzw_codes(data).flush()


def test_lzw_literal_and_dictionary_growth_roundtrip():
    import numpy as np

    from fund_data_etl_pipeline_spark.sources.pdf_text import unpack_lzw

    rng = np.random.default_rng(8)
    # low-entropy runs grow long dictionary entries (and hit the
    # code == next-entry case); random bytes stay near-literal
    smooth = np.repeat(rng.integers(0, 8, size=900, dtype=np.uint8) * 31, 4)
    noisy = rng.integers(0, 256, size=3600, dtype=np.uint8)
    for data in (b"", b"a", b"aaaaaaaaaa", smooth.tobytes(),
                 noisy.tobytes()):
        assert unpack_lzw(lzw_encode(data)) == data


def test_lzw_width_bumps_and_clear():
    import numpy as np

    from fund_data_etl_pipeline_spark.sources.pdf_text import unpack_lzw

    # enough distinct pairs to push the table through every width bump
    # and past the near-4096 mid-stream clear
    data = np.random.default_rng(10).integers(
        0, 256, size=14400, dtype=np.uint8
    ).tobytes()
    w = _lzw_codes(data)
    widths = [width for _, width in w.codes]
    assert sorted(set(widths)) == [9, 10, 11, 12]
    assert [c for c, _ in w.codes].count(256) >= 2  # start + mid-stream
    # after the 254th data code the decoder's table holds 2^9 - 1 = 511
    # entries, so early change makes the 255th the first 10-bit code
    # (GIF's rule would wait for 512); codes[0] is the leading Clear
    assert widths.index(10) == 255
    assert unpack_lzw(w.flush()) == data


def test_lzw_corrupt_code_is_named():
    import pytest

    from fund_data_etl_pipeline_spark.sources.pdf_text import unpack_lzw

    w = _MSBWriter()
    for code in (256, 65, 300, 257):  # 300: past the 259-entry table
        w.put(code, 9)
    with pytest.raises(ValueError, match="PDF LZW code out of range"):
        unpack_lzw(w.flush())


def test_lzw_filter_roundtrip():
    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )

    content = b"BT /F1 12 Tf (LZW works: 42,000.00) Tj ET"
    obj = (
        b"<< /Length %d /Filter /LZWDecode >>\nstream\n"
        % len(lzw_encode(content))
        + lzw_encode(content)
        + b"\nendstream"
    )
    pdf = build_pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            obj,
        ]
    )
    assert extract_pdf_text(pdf) == "LZW works: 42,000.00"


def test_asciihex_and_ascii85_filters():
    import base64

    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )

    content = b"BT /F1 12 Tf (hex+85) Tj ET"
    hx = content.hex().encode() + b">"
    enc85 = base64.a85encode(content) + b"~>"
    for payload, fname in ((hx, b"ASCIIHexDecode"), (enc85, b"ASCII85Decode")):
        obj = (
            b"<< /Length %d /Filter /%s >>\nstream\n" % (len(payload), fname)
            + payload
            + b"\nendstream"
        )
        pdf = build_pdf(
            [
                b"<< /Type /Catalog /Pages 2 0 R >>",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
                obj,
            ]
        )
        assert extract_pdf_text(pdf) == "hex+85"


def test_filter_chain_ascii85_then_flate():
    import base64
    import zlib as _z

    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )

    content = b"BT /F1 12 Tf (chained filters) Tj ET"
    payload = base64.a85encode(_z.compress(content)) + b"~>"
    obj = (
        b"<< /Length %d /Filter [/ASCII85Decode /FlateDecode] >>\nstream\n"
        % len(payload)
        + payload
        + b"\nendstream"
    )
    pdf = build_pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            obj,
        ]
    )
    assert extract_pdf_text(pdf) == "chained filters"


def test_objstm_pages_extracted():
    """Page/font dicts live inside a Flate-compressed /Type /ObjStm
    (the PDF 1.5+ layout) while content streams stay top-level."""
    import zlib as _z

    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )

    stored = [
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
    ]
    bodies = [b for _, b in stored]
    offsets, pos = [], 0
    for b in bodies:
        offsets.append(pos)
        pos += len(b) + 1
    header = b" ".join(
        b"%d %d" % (num, off) for (num, _), off in zip(stored, offsets)
    ) + b" "
    payload = header + b" ".join(bodies) + b" "
    first = len(header)
    comp = _z.compress(payload)
    objstm = (
        b"<< /Type /ObjStm /N %d /First %d /Length %d "
        b"/Filter /FlateDecode >>\nstream\n" % (len(stored), first, len(comp))
        + comp
        + b"\nendstream"
    )
    content = b"BT /F1 12 Tf (objstm page) Tj ET"
    pdf = build_pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            objstm,  # object 2 slot is the ObjStm itself? no - see below
        ]
    )
    # build_pdf numbers objects 1..n; to keep 2 and 3 FREE for the
    # stored objects, assemble manually: catalog=1, objstm=5, content=4
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    objects = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        4: (
            b"<< /Length %d >>\nstream\n" % len(content)
            + content
            + b"\nendstream"
        ),
        5: objstm,
    }
    for num in sorted(objects):
        out += b"%d 0 obj\n" % num + objects[num] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    assert extract_pdf_text(bytes(out)) == "objstm page"


def test_objstm_payload_offsets_honored():
    """Stored-object slicing must follow the /First-relative offsets,
    not whitespace splitting: pack bodies back-to-back."""
    import zlib as _z

    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        _dict_of,
        _expand_object_streams,
    )

    b2 = b"<</Type/Pages/Kids[3 0 R]/Count 1>>"
    b3 = b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>"
    header = b"2 0 3 %d " % len(b2)
    payload = header + b2 + b3
    comp = _z.compress(payload)
    objs = {
        9: (
            b"<< /Type /ObjStm /N 2 /First %d /Length %d "
            b"/Filter /FlateDecode >>\nstream\n" % (len(header), len(comp))
            + comp
            + b"\nendstream"
        )
    }
    _expand_object_streams(objs)
    assert _dict_of(objs[2]) == b2
    assert _dict_of(objs[3]) == b3


def _pdf_with_parms(payload: bytes, parms: bytes) -> bytes:
    obj = (
        b"<< /Length %d /Filter /FlateDecode /DecodeParms " % len(payload)
        + parms
        + b" >>\nstream\n"
        + payload
        + b"\nendstream"
    )
    return build_pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            obj,
        ]
    )


def test_png_predictor_up_rows_decode():
    """PNG Up-predictor (12) rows: each row stores deltas vs the row
    above, prefixed by filter-type byte 2 — the xref-stream layout
    applied to a content stream."""
    import zlib as _z

    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )

    content = b"BT /F1 9 Tf (predicted rows!) Tj ET"
    cols = 7
    pad = (-len(content)) % cols
    data = content + b" " * pad
    rows = [data[i : i + cols] for i in range(0, len(data), cols)]
    enc = bytearray()
    prev = bytes(cols)
    for row in rows:
        enc.append(2)  # Up
        enc += bytes((c - p) & 0xFF for c, p in zip(row, prev))
        prev = row
    pdf = _pdf_with_parms(
        _z.compress(bytes(enc)),
        b"<< /Predictor 12 /Columns %d >>" % cols,
    )
    assert extract_pdf_text(pdf) == "predicted rows!"


def test_tiff_predictor_2_decodes():
    import zlib as _z

    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )

    content = b"BT /F1 9 Tf (tiff differencing) Tj ET"
    cols = 6
    pad = (-len(content)) % cols
    data = content + b" " * pad
    enc = bytearray()
    for i in range(0, len(data), cols):
        row = data[i : i + cols]
        enc.append(row[0])
        enc += bytes(
            (row[j] - row[j - 1]) & 0xFF for j in range(1, cols)
        )
    pdf = _pdf_with_parms(
        _z.compress(bytes(enc)),
        b"<< /Predictor 2 /Columns %d >>" % cols,
    )
    assert extract_pdf_text(pdf) == "tiff differencing"


def test_unknown_predictor_quarantines():
    import zlib as _z

    import pytest as _pytest

    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )

    pdf = _pdf_with_parms(
        _z.compress(b"BT (x) Tj ET"),
        b"<< /Predictor 5 /Columns 4 >>",
    )
    with _pytest.raises(ValueError, match="predictor 5"):
        extract_pdf_text(pdf)


# --- round-6: empty-user-password RC4 decryption ---------------------------
# In-test ENCRYPTING writer: derives the file key per §7.6.3.3
# Algorithm 2, computes /U per Algorithm 4/5, and RC4-encrypts each
# stream with the per-object key of Algorithm 1 — independent forward
# direction of the decoder under test.

def _rc4_test(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for c in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(c ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


def build_encrypted_pdf(content: bytes, rev: int = 3) -> bytes:
    import hashlib
    import struct as _struct

    from fund_data_etl_pipeline_spark.sources.pdf_text import _PW_PAD

    n = 16 if rev == 3 else 5
    o = bytes(range(32))  # arbitrary owner hash: decoder derives from it
    p = -44
    id0 = bytes.fromhex("00112233445566778899aabbccddeeff")
    h = hashlib.md5(_PW_PAD + o + _struct.pack("<i", p) + id0).digest()
    if rev >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    key = h[:n]
    if rev == 2:
        u = _rc4_test(key, _PW_PAD)
    else:
        u = hashlib.md5(_PW_PAD + id0).digest()
        u = _rc4_test(key, u)
        for i in range(1, 20):
            u = _rc4_test(bytes(b ^ i for b in key), u)
        u += b"\x00" * 16  # rev-3 /U pads to 32 bytes

    def enc_stream(num: int, payload: bytes) -> bytes:
        k = hashlib.md5(
            key + num.to_bytes(3, "little") + (0).to_bytes(2, "little")
        ).digest()[: min(n + 5, 16)]
        return _rc4_test(k, payload)

    enc_dict = (
        b"<< /Filter /Standard /V %d /R %d /Length %d /P %d "
        b"/O <%s> /U <%s> >>"
        % (
            2 if rev == 3 else 1,
            rev,
            n * 8,
            p,
            o.hex().encode(),
            u.hex().encode(),
        )
    )
    payload = enc_stream(4, content)
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n" % len(payload) + payload
        + b"\nendstream",
        enc_dict,
    ]
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    for i, body in enumerate(objects, start=1):
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    out += (
        b"trailer\n<< /Size 6 /Root 1 0 R /Encrypt 5 0 R "
        b"/ID [<%s> <%s>] >>\n%%%%EOF\n"
        % (id0.hex().encode(), id0.hex().encode())
    )
    return bytes(out)


def test_encrypted_empty_user_password_rev3_decrypts():
    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )

    content = b"BT /F1 12 Tf (decrypted: 8,888.00) Tj ET"
    assert extract_pdf_text(build_encrypted_pdf(content)) == (
        "decrypted: 8,888.00"
    )


def test_encrypted_rev2_decrypts():
    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )

    content = b"BT /F1 12 Tf (forty bit rc4) Tj ET"
    assert extract_pdf_text(build_encrypted_pdf(content, rev=2)) == (
        "forty bit rc4"
    )


def test_encrypted_real_password_quarantines():
    import pytest

    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )

    blob = bytearray(build_encrypted_pdf(b"BT (x) Tj ET"))
    # corrupt /U so the empty-password check fails -> named quarantine
    i = blob.index(b"/U <") + 4
    blob[i:i + 2] = b"ff" if blob[i:i + 2] != b"ff" else b"00"
    with pytest.raises(ValueError, match="password-protected"):
        extract_pdf_text(bytes(blob))


def test_encrypted_aes_quarantines():
    import pytest

    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )

    blob = build_encrypted_pdf(b"BT (x) Tj ET").replace(
        b"/V 2 /R 3", b"/V 4 /R 4"
    )
    with pytest.raises(ValueError, match="unsupported security handler"):
        extract_pdf_text(blob)


def test_runlength_filter_roundtrip():
    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )

    content = b"BT (rle works) Tj ET"
    # §7.4.5 forward coding: a literal run + a repeated run + EOD
    payload = (
        bytes([len(content) - 1]) + content  # literal block
        + bytes([257 - 4]) + b" "  # 4 spaces, repeated-run form
        + b"\x80"  # EOD
    )
    pdf = build_pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            stream_obj(payload, extra=b" /Filter /RunLengthDecode"),
        ]
    )
    assert extract_pdf_text(pdf).strip() == "rle works"
    import pytest

    bad = pdf.replace(b"\x80", b"\x7f", 1)  # EOD byte becomes a length
    with pytest.raises(ValueError, match="RunLength"):
        extract_pdf_text(bad)
