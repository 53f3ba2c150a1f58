"""A5 — real PDF text extraction (pure-Python minipdf codec).

Golden round-trip: text → build_pdf → extract_page_texts must be
exact, including through the fused Spark extraction pipeline with
PdfCodec. Hand-crafted PDFs cover the syntax the writer doesn't emit
(TJ kerning arrays, hex strings, indirect /Length, multiple content
streams, object streams, ' operator).
"""

from __future__ import annotations

import struct
import zlib

import pytest

from pdf2dataset_spark.sources import minipdf
from pdf2dataset_spark.sources.codecs import PdfCodec

PAGES = [
    "Hello world\nsecond line\nthird",
    "Page two with (parens), back\\slash and tab\there",
    "",
    "trailing empty line\n",
]


@pytest.mark.parametrize("compress", [False, True])
def test_build_extract_roundtrip(compress):
    pdf = minipdf.build_pdf(PAGES, compress=compress)
    assert minipdf.extract_page_texts(pdf) == PAGES


def test_pdf_codec_page_access():
    codec = PdfCodec()
    h = codec.open(minipdf.build_pdf(PAGES))
    assert codec.page_count(h) == len(PAGES)
    for i, want in enumerate(PAGES, start=1):
        assert codec.page_text(h, i) == want


def test_non_pdf_bytes_raise():
    with pytest.raises(ValueError):
        minipdf.extract_page_texts(b"\xff\xfe not a pdf")
    with pytest.raises(ValueError):
        minipdf.extract_page_texts(b"%PDF-1.4\ngarbage only")


def _wrap_pdf(objs: list[bytes]) -> bytes:
    """Assemble numbered objects into a file (no xref — the scanner
    must not need one)."""
    buf = bytearray(b"%PDF-1.5\n")
    for i, body in enumerate(objs, start=1):
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    buf += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(buf)


def test_tj_kerning_hex_strings_and_quote_operator():
    content = (
        b"BT /F1 10 Tf 10 700 Td "
        b"[(Kern) -120 (ed) 30 <2054657874>] TJ "  # ' Text' in hex
        b"(next line) ' "
        b"ET"
    )
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream",
    ]
    assert minipdf.extract_page_texts(_wrap_pdf(objs)) == [
        "Kerned Text\nnext line"
    ]


def test_indirect_length_and_multiple_content_streams():
    c1 = b"BT (part one) Tj ET"
    c2 = b"BT 0 0 Td (part two) Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents [4 0 R 6 0 R] >>",
        b"<< /Length 5 0 R >>\nstream\n" + c1 + b"\nendstream",
        str(len(c1)).encode(),
        b"<< /Length " + str(len(c2)).encode() + b" >>\nstream\n" + c2 + b"\nendstream",
    ]
    # two streams, Td between shows → newline
    assert minipdf.extract_page_texts(_wrap_pdf(objs)) == [
        "part one\npart two"
    ]


def test_object_stream_pages():
    """PDF 1.5: page dicts living inside a compressed /ObjStm."""
    inner = (
        b"<< /Type /Catalog /Pages 4 0 R >>"
        b"<< /Type /Pages /Kids [5 0 R] /Count 1 >>"
        b"<< /Type /Page /Parent 4 0 R /Contents 2 0 R >>"
    )
    # object numbers 3,4,5 at offsets within `inner`
    off2 = inner.index(b"<< /Type /Pages")
    off3 = inner.index(b"<< /Type /Page /Parent")
    header = f"3 0 4 {off2} 5 {off3} ".encode()
    payload = header + inner
    compressed = zlib.compress(payload)
    content = b"BT (from objstm) Tj ET"
    objs = [
        b"<< /Type /ObjStm /N 3 /First "
        + str(len(header)).encode()
        + b" /Length "
        + str(len(compressed)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + compressed
        + b"\nendstream",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n" + content + b"\nendstream",
    ]
    assert minipdf.extract_page_texts(_wrap_pdf(objs)) == ["from objstm"]


def test_utf16be_strings_decode():
    """BOM-tagged UTF-16BE text strings (ISO 32000 §7.9.2.2)."""
    payload = ("\ufeff" + "Unïcode Tëxt").encode("utf-16-be")
    hexstr = payload.hex().encode("ascii")
    content = b"BT <" + hexstr + b"> Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream",
    ]
    assert minipdf.extract_page_texts(_wrap_pdf(objs)) == ["Unïcode Tëxt"]


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Minimal PDF-flavored LZW encoder (test-only, mirrors the
    decoder's width schedule)."""
    out_bits: list[tuple[int, int]] = []
    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    out_bits.append((256, width))
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        out_bits.append((table[w], width))
        table[w + c] = next_code
        next_code += 1
        if next_code + early > (1 << width) and width < 12:
            width += 1
        w = c
    if w:
        out_bits.append((table[w], width))
    out_bits.append((257, width))
    buf = n = 0
    ba = bytearray()
    for code, wd in out_bits:
        buf = (buf << wd) | code
        n += wd
        while n >= 8:
            ba.append((buf >> (n - 8)) & 0xFF)
            n -= 8
    if n:
        ba.append((buf << (8 - n)) & 0xFF)
    return bytes(ba)


def _one_page_pdf(content: bytes, extra_dict: bytes = b"") -> bytes:
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length "
        + str(len(content)).encode()
        + extra_dict
        + b" >>\nstream\n"
        + content
        + b"\nendstream",
    ]
    return _wrap_pdf(objs)


def test_lzw_ascii_hex_and_a85_filters():
    import base64

    plain = b"BT (filtered text) Tj ET"
    # LZW: include >256 distinct-pair content to grow code width
    long_plain = (
        b"BT (" + bytes(range(65, 91)) * 40 + b") Tj (lzw line) ' ET"
    )
    lzw = _lzw_encode(long_plain)
    got = minipdf.extract_page_texts(
        _one_page_pdf(lzw, b" /Filter /LZWDecode")
    )
    assert got[0].endswith("lzw line")

    hexed = plain.hex().encode() + b">"
    assert minipdf.extract_page_texts(
        _one_page_pdf(hexed, b" /Filter /ASCIIHexDecode")
    ) == ["filtered text"]

    a85 = base64.a85encode(plain) + b"~>"
    assert minipdf.extract_page_texts(
        _one_page_pdf(a85, b" /Filter /ASCII85Decode")
    ) == ["filtered text"]

    # chained: a85 over flate (filters apply in array order)
    flated = zlib.compress(plain)
    chained = base64.a85encode(flated) + b"~>"
    assert minipdf.extract_page_texts(
        _one_page_pdf(chained, b" /Filter [/ASCII85Decode /FlateDecode]")
    ) == ["filtered text"]


def test_unsupported_filter_raises():
    content = b"BT (x) Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length "
        + str(len(content)).encode()
        + b" /Filter /DCTDecode >>\nstream\n"
        + content
        + b"\nendstream",
    ]
    with pytest.raises(ValueError, match="DCTDecode"):
        minipdf.extract_page_texts(_wrap_pdf(objs))


def test_runlength_filter():
    plain = b"BT (rle text) Tj ET"
    # literal run + a repeat run + EOD
    encoded = (
        bytes([len(plain) - 1]) + plain + bytes([257 - 4]) + b" " + b"\x80"
    )
    got = minipdf.extract_page_texts(
        _one_page_pdf(encoded, b" /Filter /RunLengthDecode")
    )
    assert got == ["rle text"]


def test_doc_info_roundtrip():
    info = {"Title": "A (test) title", "Author": "builder\\one"}
    pdf = minipdf.build_pdf(["body"], info=info)
    got = minipdf.doc_info(pdf)
    assert got["Title"] == info["Title"]
    assert got["Author"] == info["Author"]
    # absent /Info → empty dict
    assert minipdf.doc_info(minipdf.build_pdf(["body"])) == {}
    # codec surface reuses the open() parse
    codec = PdfCodec()
    h = codec.open(pdf)
    assert codec.doc_info(h)["Title"] == info["Title"]
    assert codec.page_text(h, 1) == "body"


def test_title_author_features_through_pipeline(spark):
    """Doc-level metadata features repeat on every page row of their
    document and stay null for docs without /Info."""
    import pdf2dataset_spark as p

    with_info = minipdf.build_pdf(
        ["p1", "p2"], info={"Title": "Doc A", "Author": "Ann"}
    )
    without = minipdf.build_pdf(["solo"])
    out = p.extract(
        {"a.pdf": with_info, "b.pdf": without},
        spark=spark,
        small=True,
        use_pdf_codec=True,
        features=["text", "title", "author"],
    )
    a = out[out.path == "a.pdf"]
    assert set(a.title) == {"Doc A"} and set(a.author) == {"Ann"}
    b = out[out.path == "b.pdf"]
    assert b.title.isna().all() and b.author.isna().all()


def test_malformed_pdfs_raise_valueerror_only():
    """Fuzz regression: structured garbage (PDF keyword fragments in
    random order) must either parse or raise ValueError — never an
    assertion/attribute/index error. The per-row error capture (A8)
    catches everything, but a typed failure mode is the parser's
    contract."""
    import random

    random.seed(11)
    frags = [
        b"1 0 obj", b"endobj", b"stream\n", b"endstream", b"<<", b">>",
        b"/Type", b"/Catalog", b"/Pages", b"/Page", b"/Kids", b"[", b"]",
        b"(", b")", b"3 0 R", b"/Filter /FlateDecode", b"/Length 5",
        b"BT", b"ET", b"Tj", b"TJ", b"<AF>", b"%comment\n", b"\\",
        b"/ObjStm", b"/N 2 /First 4",
    ]
    for _ in range(1500):
        parts = [random.choice(frags) for _ in range(random.randrange(1, 25))]
        data = b"%PDF-1.4\n" + b" ".join(parts)
        try:
            minipdf.extract_page_texts(data)
        except ValueError:
            pass


def test_directory_scan_of_real_pdfs(spark, tmp_path):
    """A1+A5 together: recursive binaryFile scan over a directory of
    real .pdf files, extracted through the fused pipeline."""
    import pdf2dataset_spark as p

    root = tmp_path / "docs"
    (root / "sub").mkdir(parents=True)
    (root / "one.pdf").write_bytes(minipdf.build_pdf(["first doc"]))
    (root / "sub" / "two.pdf").write_bytes(
        minipdf.build_pdf(["second doc p1", "second doc p2"], compress=True)
    )
    (root / "ignored.txt").write_bytes(b"not a pdf")
    out = p.extract(str(root), spark=spark, small=True, use_pdf_codec=True)
    texts = sorted(out[out.error.isna()].text)
    assert texts == ["first doc", "second doc p1", "second doc p2"]


def test_obj_keyword_inside_content_does_not_shadow_objects():
    """Adversarial page text containing 'N 0 obj ... endobj' in an
    UNcompressed content stream must not shadow real objects — the
    scanner consumes objects sequentially and skips matches inside
    already-parsed bodies."""
    evil = [
        "this page contains 1 0 obj << /Type /Catalog /Pages 9 0 R >> endobj inline",
        "normal page",
    ]
    for compress in (False, True):
        pdf = minipdf.build_pdf(evil, compress=compress)
        assert minipdf.extract_page_texts(pdf) == evil


def test_pdf_roundtrip_property():
    """Property: any Latin-1 page text (incl. PDF delimiters,
    escapes, blank lines) survives text → PDF → extraction exactly,
    compressed and not."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # printable latin-1 + specials that exercise string escaping
    alphabet = st.sampled_from(
        list("abcXYZ 019()\\<>[]/%#\t'\"éü")
    )
    line = st.text(alphabet=alphabet, max_size=30)
    page = st.lists(line, min_size=1, max_size=5).map("\n".join)
    pages = st.lists(page, min_size=1, max_size=3)

    @settings(max_examples=25, deadline=None)
    @given(pages=pages, compress=st.booleans())
    def check(pages, compress):
        pdf = minipdf.build_pdf(pages, compress=compress)
        assert minipdf.extract_page_texts(pdf) == pages

    check()


def test_extraction_pipeline_with_pdf_codec(spark):
    """Golden end-to-end: real PDF bytes through the fused Spark
    extraction pipeline (fan-out + error capture) with PdfCodec —
    page texts recovered exactly, corrupt doc becomes an error row."""
    import pdf2dataset_spark as p

    good = minipdf.build_pdf(PAGES, compress=True)
    docs = {"good.pdf": good, "broken.pdf": b"%PDF-1.4 garbage"}
    out = p.extract(docs, spark=spark, small=True, use_pdf_codec=True)
    ok = out[out.error.isna()].sort_values("page")
    assert list(ok.text) == PAGES
    err = out[out.error.notna()]
    assert len(err) == 1 and err.iloc[0].page == -1
    assert "ValueError" in err.iloc[0].error


def _build_xref_stream_pdf(text: str) -> bytes:
    """A PDF 1.5 file with NO classic xref table: the cross-reference
    lives in a /Type /XRef stream (FlateDecode + PNG Up predictor,
    /W [1 2 1]) — the layout poppler reads via the xref and minipdf
    must recover via its object scanner."""
    content = f"BT ({text}) Tj ET".encode()
    objs: list[bytes] = []

    def add(num: int, body: bytes) -> int:
        off = sum(len(o) for o in objs) + len(header)
        objs.append(f"{num} 0 obj\n".encode() + body + b"\nendobj\n")
        return off

    header = b"%PDF-1.5\n"
    offsets = {}
    offsets[1] = add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    offsets[2] = add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    offsets[3] = add(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    offsets[4] = add(
        4,
        f"<< /Length {len(content)} >>\nstream\n".encode()
        + content
        + b"\nendstream",
    )
    xref_pos = sum(len(o) for o in objs) + len(header)
    offsets[5] = xref_pos

    # rows for objects 0..5, W=[1 2 1]: type, offset(u16be), gen
    rows = [bytes([0, 0, 0, 255])]
    for n in range(1, 6):
        off = offsets[n]
        rows.append(bytes([1, off >> 8, off & 0xFF, 0]))
    # PNG Up predictor (12): each row prefixed by filter tag 2,
    # bytes stored as delta vs the previous row
    prev = bytes(4)
    coded = bytearray()
    for r in rows:
        coded.append(2)
        coded.extend((c - p) & 0xFF for c, p in zip(r, prev))
        prev = r
    payload = zlib.compress(bytes(coded))
    xref_obj = (
        f"5 0 obj\n<< /Type /XRef /Size 6 /W [1 2 1] /Root 1 0 R "
        f"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 4 >> "
        f"/Length {len(payload)} >>\nstream\n".encode()
        + payload
        + b"\nendstream\nendobj\n"
    )
    return (
        header
        + b"".join(objs)
        + xref_obj
        + f"startxref\n{xref_pos}\n%%EOF\n".encode()
    )


def test_xref_stream_only_pdf_extracts_via_object_scan():
    """PDF 1.5 cross-reference-stream layout (no classic xref table):
    the object scanner must recover the document without ever decoding
    the predictor-coded xref stream. Pins the documented behavior —
    xref-stream PDFs whose objects sit in the file body extract fine;
    only objects reachable SOLELY through a compressed xref would be
    missed (and then surface as a typed error, per the test below)."""
    pdf = _build_xref_stream_pdf("xref stream page text")
    assert b"\nxref\n" not in pdf  # really no classic table
    assert minipdf.extract_page_texts(pdf) == ["xref stream page text"]


def test_malformed_encrypted_pdf_is_typed_error_and_error_row(spark):
    """A trailer /Encrypt pointing at a missing object must raise a
    typed ValueError (not crash), and through the Spark pipeline the
    document becomes an error row (page=-1) while other docs in the
    same batch extract normally."""
    import pdf2dataset_spark as p

    enc = minipdf.build_pdf(["secret page"]).replace(
        b"/Root", b"/Encrypt 9 0 R /Root", 1
    )
    with pytest.raises(ValueError, match="[Ee]ncrypt"):
        minipdf.extract_page_texts(enc)

    docs = {"enc.pdf": enc, "plain.pdf": minipdf.build_pdf(["open page"])}
    out = p.extract(docs, spark=spark, small=True, use_pdf_codec=True)
    ok = out[out.error.isna()]
    assert list(ok.text) == ["open page"]
    err = out[out.error.notna()]
    assert len(err) == 1 and err.iloc[0].page == -1
    assert "encrypt" in err.iloc[0].error.lower()


def test_rc4_encrypted_pdf_roundtrip():
    """Standard-security-handler RC4 (R3/V2 128-bit): build_pdf
    really encrypts (no plaintext in the file), and PdfDocument
    decrypts transparently for the empty-user-password case —
    streams, Info strings, compressed and uncompressed."""
    pages = ["hello encrypted world\nline two", "page two text"]
    info = {"Title": "Secret Doc", "Author": "A. Writer"}
    for compress in (False, True):
        data = minipdf.build_pdf(
            pages, compress=compress, info=info, encrypt=""
        )
        assert b"hello encrypted world" not in data
        assert b"Secret Doc" not in data
        assert minipdf.extract_page_texts(data) == pages
        assert minipdf.doc_info(data)["Title"] == "Secret Doc"


def test_user_password_pdf_needs_password_and_decrypts_with_it(spark):
    """A non-empty user password: typed error (→ error row) without
    the password; full extraction when PdfDocument gets it."""
    import pdf2dataset_spark as p

    pages = ["locked page text"]
    data = minipdf.build_pdf(pages, encrypt="s3cret")
    with pytest.raises(ValueError, match="password"):
        minipdf.extract_page_texts(data)
    doc = minipdf.PdfDocument(data, password=b"s3cret")
    assert [
        minipdf.content_text(doc.page_content(pg)) for pg in doc.pages()
    ] == pages

    docs = {"locked.pdf": data, "plain.pdf": minipdf.build_pdf(["open page"])}
    out = p.extract(docs, spark=spark, small=True, use_pdf_codec=True)
    err = out[out.error.notna()]
    assert len(err) == 1 and "password" in err.iloc[0].error


def test_rc4_r2_algorithms_self_consistent():
    """R2 (40-bit) handler primitives: the U value computed from a
    derived key must verify, and a perturbed password must not."""
    from pdf2dataset_spark.sources import pdfcrypt

    id0 = bytes(range(16))
    o_val = pdfcrypt.compute_o(b"owner", b"user", 2, 5)
    key = pdfcrypt.file_key(b"user", o_val, -1, id0, 2, 5)
    u_val = pdfcrypt.compute_u(key, id0, 2)
    assert pdfcrypt.check_user_password(key, u_val, id0, 2)
    bad = pdfcrypt.file_key(b"wrong", o_val, -1, id0, 2, 5)
    assert not pdfcrypt.check_user_password(bad, u_val, id0, 2)
    # RC4 is an involution with the same key
    msg = b"stream payload bytes" * 3
    k = pdfcrypt.object_key(key, 7, 0)
    assert pdfcrypt.rc4(k, pdfcrypt.rc4(k, msg)) == msg


def test_png_predictor_roundtrip_all_filters():
    """/Predictor >= 10: encode rows with each PNG filter type (Sub,
    Up, Average, Paeth, None) and assert the decoder inverts exactly."""
    raw = bytes((i * 37 + 11) % 256 for i in range(6 * 10))  # 6 rows x 10
    rowlen, bpp = 10, 1
    rows = [bytearray(raw[r : r + rowlen]) for r in range(0, len(raw), rowlen)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    coded = bytearray()
    prev = bytearray(rowlen)
    for tag, row in zip([0, 1, 2, 3, 4, 2], rows):
        coded.append(tag)
        for i in range(rowlen):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2, 4: paeth(a, b, c)}[tag]
            coded.append((row[i] - pred) & 0xFF)
        prev = row
    out = minipdf._apply_predictor(
        bytes(coded),
        {"/Predictor": 15, "/Columns": rowlen},
        lambda v: v,
    )
    assert out == raw


def test_tiff_predictor_roundtrip():
    raw = bytes((i * 13 + 5) % 256 for i in range(4 * 8))
    rowlen = 8
    coded = bytearray(raw)
    for r0 in range(0, len(coded), rowlen):
        for i in range(r0 + rowlen - 1, r0, -1):
            coded[i] = (coded[i] - coded[i - 1]) & 0xFF
    out = minipdf._apply_predictor(
        bytes(coded), {"/Predictor": 2, "/Columns": rowlen}, lambda v: v
    )
    assert out == raw


def test_objstm_with_png_predictor_decodes():
    """An /ObjStm whose Flate payload is additionally /Predictor-12
    coded (PNG Up) — the layout a PDF 1.5 writer using predictors
    everywhere produces — must decode and yield its page objects."""
    inner = (
        b"<< /Type /Catalog /Pages 4 0 R >>"
        b"<< /Type /Pages /Kids [5 0 R] /Count 1 >>"
        b"<< /Type /Page /Parent 4 0 R /Contents 2 0 R >>"
    )
    off2 = inner.index(b"<< /Type /Pages")
    off3 = inner.index(b"<< /Type /Page /Parent")
    header = f"3 0 4 {off2} 5 {off3} ".encode()
    payload = header + inner
    # PNG Up predictor over fixed-width rows
    cols = 16
    if len(payload) % cols:
        payload += b" " * (cols - len(payload) % cols)  # pad (ws is inert)
    coded = bytearray()
    prev = bytes(cols)
    for r0 in range(0, len(payload), cols):
        row = payload[r0 : r0 + cols]
        coded.append(2)
        coded.extend((c - p) & 0xFF for c, p in zip(row, prev))
        prev = row
    compressed = zlib.compress(bytes(coded))
    content = b"BT (predictor objstm) Tj ET"
    objs = [
        b"<< /Type /ObjStm /N 3 /First "
        + str(len(header)).encode()
        + b" /Length "
        + str(len(compressed)).encode()
        + b" /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns "
        + str(cols).encode()
        + b" >> >>\nstream\n"
        + compressed
        + b"\nendstream",
        b"<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream",
    ]
    assert minipdf.extract_page_texts(_wrap_pdf(objs)) == ["predictor objstm"]


@pytest.mark.parametrize("rev", [3, 4, 6])
def test_encrypted_roundtrip_all_revisions(rev):
    """All three Standard-handler revisions round-trip: R3 (RC4-128),
    R4 (AES-128 /AESV2 crypt filter), R6 (AES-256 /AESV3) — empty,
    user, and owner passwords, plain and FlateDecoded streams."""
    pages = ["revision round trip\nline two", "second page"]
    info = {"Title": "T", "Author": "A"}
    for compress in (False, True):
        data = minipdf.build_pdf(
            pages, compress=compress, info=info, encrypt="", encrypt_rev=rev
        )
        assert b"revision round trip" not in data
        assert minipdf.extract_page_texts(data) == pages
        assert minipdf.doc_info(data)["Title"] == "T"
    locked = minipdf.build_pdf(pages, encrypt="pw", encrypt_rev=rev)
    with pytest.raises(ValueError, match="password"):
        minipdf.extract_page_texts(locked)
    for pwd in (b"pw", b"pw-owner"):
        doc = minipdf.PdfDocument(locked, password=pwd)
        assert [
            minipdf.content_text(doc.page_content(p)) for p in doc.pages()
        ] == pages


def test_aes_fips197_vectors():
    """The AES core must match the FIPS-197 appendix C known-answer
    vectors for all three key sizes, both directions."""
    from pdf2dataset_spark.sources import _aes

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    cases = [
        ("000102030405060708090a0b0c0d0e0f",
         "69c4e0d86a7b0430d8cdb78070b4c55a"),
        ("000102030405060708090a0b0c0d0e0f1011121314151617",
         "dda97ca4864cdfe06eaf70a0ec0d7191"),
        ("000102030405060708090a0b0c0d0e0f"
         "101112131415161718191a1b1c1d1e1f",
         "8ea2b7ca516745bfeafc49904b496089"),
    ]
    for key_hex, ct_hex in cases:
        key = bytes.fromhex(key_hex)
        ct = _aes.encrypt_block(key, pt)
        assert ct == bytes.fromhex(ct_hex)
        assert _aes.decrypt_block(key, ct) == pt
    # CBC round-trip incl. empty message and padding boundaries
    key = bytes.fromhex(cases[0][0])
    iv = bytes(range(16))
    for n in (0, 1, 15, 16, 17, 100):
        msg = bytes((i * 7 + 3) % 256 for i in range(n))
        assert _aes.cbc_decrypt(key, _aes.cbc_encrypt(key, iv, msg)) == msg


def test_v5_hash_2b_properties():
    """ISO 32000-2 Algorithm 2.B: 32-byte output, deterministic,
    password- and salt-sensitive; /U //UE round-trips the file key."""
    from pdf2dataset_spark.sources import pdfcrypt

    h1 = pdfcrypt.hash_2b(b"pw", b"salt8888", b"")
    assert len(h1) == 32
    assert h1 == pdfcrypt.hash_2b(b"pw", b"salt8888", b"")
    assert h1 != pdfcrypt.hash_2b(b"pw2", b"salt8888", b"")
    assert h1 != pdfcrypt.hash_2b(b"pw", b"salt8889", b"")

    fk = bytes(range(32))
    u, ue = pdfcrypt.v5_make_user_entries(b"pw", fk, 6)
    assert pdfcrypt.v5_auth_user(b"pw", u, 6)
    assert not pdfcrypt.v5_auth_user(b"nope", u, 6)
    assert pdfcrypt.v5_file_key_user(b"pw", u, ue, 6) == fk
    o, oe = pdfcrypt.v5_make_owner_entries(b"opw", fk, u, 6)
    assert pdfcrypt.v5_auth_owner(b"opw", o, u, 6)
    assert pdfcrypt.v5_file_key_owner(b"opw", o, u, oe, 6) == fk


def _type0_pdf(content: bytes, cmap: bytes, inherit_res: bool = False) -> bytes:
    """One page whose /F1 is a Type0 font with a /ToUnicode CMap;
    optionally the /Resources dict lives on the /Pages node
    (inheritance, ISO 32000-1 Table 30)."""
    res = b"<< /Font << /F1 5 0 R >> >>"
    page = b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
    pages = b"<< /Type /Pages /Kids [3 0 R] /Count 1"
    if inherit_res:
        pages += b" /Resources " + res
    else:
        page += b" /Resources " + res
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        pages + b" >>",
        page + b" >>",
        b"<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Fake-CID "
        b"/ToUnicode 6 0 R >>",
        b"<< /Length "
        + str(len(cmap)).encode()
        + b" >>\nstream\n"
        + cmap
        + b"\nendstream",
    ]
    return _wrap_pdf(objs)


_CMAP = b"""/CIDInit /ProcSet findresource begin
12 dict begin begincmap
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
2 beginbfchar
<0001> <00DC>
<0002> <006E0069>
endbfchar
2 beginbfrange
<0010> <0012> <0061>
<0020> <0021> [<0058> <0059>]
endbfrange
endcmap end end
"""


def test_type0_tounicode_cmap_decoding():
    """CID strings decode through the /ToUnicode CMap: bfchar
    (incl. a multi-unit ligature), incrementing bfrange, and array
    bfrange — 2-byte codes shown via Tj from a hex string."""
    # codes: 0001 0002 0010 0011 0012 0020 0021
    content = b"BT /F1 12 Tf <0001000200100011001200200021> Tj ET"
    pdf = _type0_pdf(content, _CMAP)
    assert minipdf.extract_page_texts(pdf) == ["ÜniabcXY"]


def test_type0_resources_inherited_from_pages_node():
    content = b"BT /F1 12 Tf <00010010> Tj ET"
    pdf = _type0_pdf(content, _CMAP, inherit_res=True)
    assert minipdf.extract_page_texts(pdf) == ["Üa"]


def test_unmapped_code_fallback_and_cmap_parser():
    mapping, code_len = minipdf.parse_tounicode_cmap(_CMAP)
    assert code_len == 2
    assert mapping[0x0001] == "Ü"
    assert mapping[0x0002] == "ni"
    assert mapping[0x0010] == "a" and mapping[0x0012] == "c"
    assert mapping[0x0020] == "X" and mapping[0x0021] == "Y"
    # unmapped wide code -> replacement char, not a crash
    content = b"BT /F1 12 Tf <0001FFFF> Tj ET"
    pdf = _type0_pdf(content, _CMAP)
    assert minipdf.extract_page_texts(pdf) == ["Ü�"]


def test_non_tounicode_font_keeps_latin1_path():
    """A page mixing a CMap font and a plain font: Tf switches the
    decoder per show op."""
    content = (
        b"BT /F1 12 Tf <0001> Tj /F2 12 Tf 0 -14 Td (plain) Tj ET"
    )
    res = (
        b"<< /Font << /F1 5 0 R /F2 7 0 R >> >>"
    )
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
        + res
        + b" >>",
        b"<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream",
        b"<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>",
        b"<< /Length "
        + str(len(_CMAP)).encode()
        + b" >>\nstream\n"
        + _CMAP
        + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    pdf = _wrap_pdf(objs)
    assert minipdf.extract_page_texts(pdf) == ["Ü\nplain"]


def test_simple_font_encoding_differences_and_winansi():
    """Simple-font /Encoding: /Differences glyph names override the
    base encoding, and /WinAnsiEncoding decodes the 0x80-0x9F range
    (smart quotes) that Latin-1 maps to control characters."""
    content = b"BT /F1 12 Tf (AB\x93hi\x94) Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
        b"<< /Font << /F1 5 0 R >> >> >>",
        b"<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom /Encoding "
        b"<< /BaseEncoding /WinAnsiEncoding "
        b"/Differences [65 /Adieresis /Euro] >> >>",
    ]
    pdf = _wrap_pdf(objs)
    assert minipdf.extract_page_texts(pdf) == ["Ä€“hi”"]


def test_glyph_name_resolution_forms():
    g = minipdf._glyph_to_unicode
    assert g("Adieresis") == "Ä" and g("eacute") == "é"
    assert g("uni20AC") == "€" and g("uni00480065") == "He"
    assert g("u1F600") == "😀"
    assert g("quotedblleft") == "“" and g("endash") == "–"
    assert g("a") == "a"
    assert g("notarealglyphname") is None
    # Greek + math (Symbol-font / TeX Type3 names); AGL maps "mu"
    # to MICRO SIGN, "sigma1" to final sigma
    assert g("alpha") == "α" and g("Omega") == "Ω"
    assert g("sigma1") == "ς" and g("mu") == "µ"
    assert g("summation") == "∑" and g("infinity") == "∞"
    assert g("lessequal") == "≤" and g("arrowright") == "→"


def test_type3_font_differences_text_recovery():
    """Type3 fonts (glyphs as content streams — the TeX-era shape)
    carry text ONLY through /Encoding /Differences glyph names; they
    ride the simple-font path, including Greek/math names."""
    content = b"BT /F1 12 Tf (\x41\x42\x43\x44) Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
        b"<< /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type3 /CharProcs 6 0 R "
        b"/FontMatrix [0.001 0 0 0.001 0 0] /Encoding "
        b"<< /Differences [65 /alpha /beta /summation /infinity] >> >>",
        b"<< >>",
    ]
    pdf = _wrap_pdf(objs)
    assert minipdf.extract_page_texts(pdf) == ["αβ∑∞"]


def test_tex_copyright_overlay_composes():
    """Round-10 (from the real /usr/share/doc corpus): plain TeX's
    \\copyright paints a text 'c' INSIDE CMSY's circlecopyrt glyph.
    The circle maps to © and the overlaid companion 'c' folds into
    it — layout text reads "Copyright © 2001", one word, no
    control chars. A FREE-STANDING 'c' outside the © extent
    survives (the rule is positional, not textual)."""
    content = (b"BT /F1 10 Tf 72 700 Td (Copyright) Tj "
               b"53 0.3 Td (c) Tj -2.8 -0.3 Td (\\015) Tj "
               b"13.4 0 Td (2001) Tj 30 0 Td (c) Tj ET")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
        b"<< /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding << /BaseEncoding /WinAnsiEncoding "
        b"/Differences [13 /circlecopyrt] >> >>",
    ]
    pdf = _wrap_pdf(objs)
    [txt] = minipdf.extract_page_texts(pdf, layout=True)
    assert "Copyright © 2001 c" in txt
    assert "\r" not in txt and "©c" not in txt and "c©" not in txt


def test_kerned_c_after_copyright_survives():
    """Round-11 advice: the overlay rule is CENTER-coincidence, not
    start-inside-extent. A legitimate 'c' beginning a word tightly
    kerned after © ('©company' with negative kerning, or a TJ-split
    'c'+'ompany') starts inside the ©'s ESTIMATED extent — the
    0.5 em/char estimate undershoots the wide circle glyph — but its
    center sits ~0.46 em past the ©'s center, so it must NOT be
    deleted."""
    content = (b"BT /F1 10 Tf 72 700 Td (\\015) Tj "
               b"4.6 0 Td (c) Tj 5 0 Td (ompany) Tj ET")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
        b"<< /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding << /BaseEncoding /WinAnsiEncoding "
        b"/Differences [13 /circlecopyrt] >> >>",
    ]
    pdf = _wrap_pdf(objs)
    [txt] = minipdf.extract_page_texts(pdf, layout=True)
    assert "©company" in txt


def test_type3_mirrored_fontmatrix_advance_sign():
    """Round-10 advice fix: the Type3 advance is the text-space
    displacement of (wx, 0) through /FontMatrix — hypot alone is
    unsigned, so a MIRRORED matrix (fm[0] < 0) must advance LEFT
    (negative), a skewed one keeps the round-9 hypot magnitude."""
    content = b"BT /F1 10 Tf (AB) Tj ET"
    widths = {65: 50.0, 66: 50.0}

    def glyph_es(fm):
        glyphs: list = []
        minipdf._text_runs(
            content,
            t3_fonts={"/F1": {"procs": {}, "matrix": fm,
                              "widths": widths}},
            t3_glyphs=glyphs,
        )
        assert len(glyphs) == 2
        return [gm[4] for _, _, gm in glyphs]

    # plain 0.01 matrix: second glyph starts 50*0.01*10 = +5 right
    assert glyph_es((0.01, 0, 0, 0.01, 0, 0)) == [0.0, 5.0]
    # mirrored: same magnitude, LEFTWARD
    assert glyph_es((-0.01, 0, 0, 0.01, 0, 0)) == [0.0, -5.0]
    # skewed + mirrored: signed hypot of (fm0*wx, fm1*wx)
    es = glyph_es((-0.006, 0.008, 0, 0.01, 0, 0))
    assert es[0] == 0.0 and abs(es[1] + 5.0) < 1e-9


def test_plain_helvetica_pdfs_unaffected_by_encoding_path():
    """build_pdf emits /WinAnsiEncoding Helvetica — the encoding map
    must not perturb plain ASCII round-trips (regression guard)."""
    pages = ["plain ascii text", "second page!"]
    assert minipdf.extract_page_texts(minipdf.build_pdf(pages)) == pages


def test_parser_mutation_fuzz_terminates_quickly():
    """Corpus robustness: random truncations, byte flips, and range
    deletions of valid PDFs (plain, compressed, encrypted, ObjStm)
    must either parse or raise — quickly, with no hangs and no
    pathological memory growth. At 100 TB the corpus WILL contain
    garbage; a worker that loops forever on one document stalls the
    whole stage, which is worse than any wrong answer."""
    import random
    import time

    bases = [
        minipdf.build_pdf(["fuzz page one", "fuzz page two"]),
        minipdf.build_pdf(["fuzz compressed"], compress=True),
        minipdf.build_pdf(["fuzz encrypted"], compress=True, encrypt="",
                          encrypt_rev=3),
        minipdf.build_pdf(["fuzz aes"], encrypt="", encrypt_rev=4),
    ]
    rng = random.Random(20260814)
    worst = 0.0
    for _ in range(150):
        data = bytearray(rng.choice(bases))
        op = rng.randrange(3)
        if op == 0:  # truncate
            data = data[: rng.randrange(1, len(data))]
        elif op == 1:  # flip up to 8 bytes
            for _ in range(rng.randrange(1, 9)):
                i = rng.randrange(len(data))
                data[i] ^= 1 << rng.randrange(8)
        else:  # delete a range
            i = rng.randrange(len(data))
            j = min(len(data), i + rng.randrange(1, 64))
            del data[i:j]
        t0 = time.perf_counter()
        try:
            minipdf.extract_page_texts(bytes(data))
        except Exception:
            pass  # any typed failure is fine; hangs are not
        worst = max(worst, time.perf_counter() - t0)
    assert worst < 5.0, f"slowest mutation took {worst:.1f}s"


# ---------------------------------------------------------------------
# embedded image XObjects (/DCTDecode fallback without native deps)
# ---------------------------------------------------------------------


def _gradient(w=16, h=8):
    return bytes((x * 16 + y) % 256 for y in range(h) for x in range(w))


def _image_pdf(**build_kw):
    from pdf2dataset_spark.sources.jpeg import encode_jpeg

    px = _gradient()
    jpg = encode_jpeg(16, 8, px, quality=90)
    imgs = [
        {"filter": "/DCTDecode", "width": 16, "height": 8, "data": jpg},
        {"filter": "/FlateDecode", "width": 16, "height": 8,
         "data": zlib.compress(px)},
        {"width": 16, "height": 8, "data": px},
    ]
    return minipdf.build_pdf(
        ["image page", "no images"], images=imgs, **build_kw
    ), jpg, px


def test_page_images_roundtrip_dct_flate_raw():
    pdf, jpg, px = _image_pdf()
    pages = minipdf.extract_page_images(pdf)
    assert len(pages) == 2 and len(pages[0]) == 3 and pages[1] == []
    im_jpeg, im_flate, im_raw = pages[0]
    assert im_jpeg["format"] == "jpeg" and im_jpeg["data"] == jpg
    assert im_jpeg["decodable"] and (im_jpeg["width"], im_jpeg["height"]) == (16, 8)
    # Flate chain decodes fully to samples; unfiltered passes through
    assert im_flate["format"] == "raw" and im_flate["data"] == px
    assert im_raw["format"] == "raw" and im_raw["data"] == px


def test_page_images_decode_pixels_matches_encoder_input():
    from pdf2dataset_spark.sources.jpeg import decode_jpeg

    pdf, jpg, px = _image_pdf()
    doc = minipdf.PdfDocument(pdf)
    entries = doc.page_images(doc.pages()[0], decode_pixels=True)
    w, h, direct = decode_jpeg(jpg)
    assert entries[0]["pixels"] == direct  # same decoder, same pixels
    assert entries[2]["pixels"] == px


@pytest.mark.parametrize("rev", [3, 4, 6])
def test_page_images_through_encryption(rev):
    pdf, jpg, px = _image_pdf(encrypt="pw", encrypt_rev=rev)
    pages = minipdf.extract_page_images(pdf, password=b"pw")
    assert pages[0][0]["data"] == jpg  # decrypt-then-stop-at-DCT exact
    assert pages[0][2]["data"] == px


def test_page_images_unsupported_filter_is_honest():
    imgs = [{"filter": "/JPXDecode", "width": 4, "height": 4,
             "data": b"\x00" * 16}]
    pdf = minipdf.build_pdf(["jpx"], images=imgs)
    (entry,) = minipdf.extract_page_images(pdf)[0]
    assert entry["format"] == "jpx" and entry["decodable"] is False
    assert entry["data"] == b"\x00" * 16  # payload still surfaced


def test_page_images_color_jpeg_kept_compressed():
    # hand-rolled marker soup that is NOT single-component baseline:
    # decode_jpeg must refuse, page_images must keep the file honest
    bogus = b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x08\x00\x10\x01\x01\x11\x00\xff\xd9"
    pdf = minipdf.build_pdf(
        ["p"], images=[{"filter": "/DCTDecode", "width": 16, "height": 8,
                        "data": bogus}]
    )
    (entry,) = minipdf.extract_page_images(pdf)[0]
    assert entry["format"] == "jpeg" and entry["decodable"] is False
    assert entry["data"] == bogus
    assert (entry["width"], entry["height"]) == (16, 8)  # declared dims kept


def test_image_decoder_table_names_the_cost_model_filters():
    """The driver-side cost model (which must not import minipdf)
    charges exactly the filters page_images decodes."""
    from pdf2dataset_spark.sources import memory

    charged = {f"/{k.decode()}Decode" for k in memory._MS_PER_MPX}
    assert charged == set(minipdf._IMAGE_DECODERS)
    assert minipdf._IMAGE_FILTERS == tuple(minipdf._IMAGE_DECODERS)


def _scan_xobject(fmt: str) -> dict:
    """A valid one-image XObject of each /Filter page_images decodes."""
    from pdf2dataset_spark.sources import ccitt, jbig2, jpeg, jpx

    w, h = 48, 16
    px = bytes(0 if (x // 3 + y // 2) % 4 == 0 else 255
               for y in range(h) for x in range(w))
    if fmt == "jpeg":
        return {"filter": "/DCTDecode", "data": jpeg.encode_jpeg(w, h, px),
                "width": w, "height": h}
    if fmt == "jpx":
        return {"filter": "/JPXDecode",
                "data": jpx.encode_jpx(w, h, px, 1, levels=2),
                "width": w, "height": h}
    if fmt == "ccitt":
        return {"filter": "/CCITTFaxDecode", "data": ccitt.encode_g4(px, w, h),
                "width": w, "height": h, "bits": 1,
                "decode_parms": {"/K": -1, "/Columns": w, "/Rows": h}}
    rows = [bytearray(1 if px[y * w + x] < 128 else 0 for x in range(w))
            for y in range(h)]
    return {"filter": "/JBIG2Decode", "width": w, "height": h, "bits": 1,
            "data": jbig2.encode_generic_page(rows, template=0, tpgdon=True)}


@pytest.mark.parametrize("fmt", ["jpeg", "jpx", "ccitt", "jbig2"])
def test_truncated_scan_payload_is_kept_undecodable(fmt):
    xobj = _scan_xobject(fmt)
    doc = minipdf.PdfDocument(minipdf.build_pdf([""], images=[xobj]))
    (whole,) = doc.page_images(doc.pages()[0], decode_pixels=True)
    assert whole["format"] == fmt and whole["decodable"] is True
    cut = xobj["data"][: len(xobj["data"]) // 2]
    doc = minipdf.PdfDocument(
        minipdf.build_pdf([""], images=[dict(xobj, data=cut)])
    )
    (entry,) = doc.page_images(doc.pages()[0], decode_pixels=True)
    assert entry["format"] == fmt and entry["decodable"] is False
    assert entry["data"] == cut
    assert "pixels" not in entry


def test_malformed_ccitt_parms_raise_out_of_page_images():
    """/DecodeParms are read outside the decode's error net: a /K
    that is not a number is a malformed document, not an undecodable
    payload."""
    xobj = _scan_xobject("ccitt")
    xobj["decode_parms"] = dict(xobj["decode_parms"], **{"/K": "/G4"})
    doc = minipdf.PdfDocument(minipdf.build_pdf([""], images=[xobj]))
    with pytest.raises(ValueError):
        doc.page_images(doc.pages()[0])


def test_stream_bytes_still_rejects_dct_on_text_paths():
    pdf, jpg, _ = _image_pdf()
    doc = minipdf.PdfDocument(pdf)
    res = doc.resolve(doc.pages()[0].get("/Resources"))
    xobj = doc.resolve(doc.resolve(res["/XObject"])["/Im0"])
    with pytest.raises(ValueError, match="DCTDecode"):
        doc.stream_bytes(xobj)


def test_codec_and_features_surface_embedded_images(spark):
    from pdf2dataset_spark.extraction import extract

    pdf, jpg, _ = _image_pdf()
    res = extract(
        {"a.pdf": pdf, "b.pdf": minipdf.build_pdf(["plain"])},
        spark=spark,
        small=True,
        use_pdf_codec=True,
        features=["text", "n_images", "embedded_image", "embedded_image_meta"],
    )
    a1 = res[(res.path == "a.pdf") & (res.page == 1)].iloc[0]
    assert a1["n_images"] == 3 and bytes(a1["embedded_image"]) == jpg
    assert '"format": "jpeg"' in a1["embedded_image_meta"]
    assert res[(res.path == "a.pdf") & (res.page == 2)].iloc[0]["n_images"] == 0
    assert res[res.path == "b.pdf"].iloc[0]["embedded_image"] is None


def _minimal_pdf_with_content(content: bytes) -> bytes:
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
    ]
    buf = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, body in enumerate(objs, 1):
        offs.append(len(buf))
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(buf)
    buf += f"xref\n0 {len(objs) + 1}\n".encode() + b"0000000000 65535 f \n"
    for o in offs:
        buf += f"{o:010d} 00000 n \n".encode()
    buf += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref}\n%%EOF\n".encode()
    )
    return bytes(buf)


def test_inline_images_raw_flate_dct():
    """BI..ID..EI inline images: exact extent for unfiltered data,
    decode-probed EI scan for filtered data (an EI byte pair inside
    the compressed payload must not end the image early), and
    abbreviated key/filter names expanded."""
    from pdf2dataset_spark.sources.jpeg import encode_jpeg

    px = _gradient()
    jpg = encode_jpeg(16, 8, px, quality=90)
    content = (
        b"BT /F1 12 Tf 72 720 Td (inline test) Tj ET\n"
        b"q BI /W 16 /H 8 /CS /G /BPC 8 ID " + px + b" EI Q\n"
        b"q BI /W 16 /H 8 /CS /G /BPC 8 /F /Fl ID "
        + zlib.compress(px) + b" EI Q\n"
        b"q BI /W 16 /H 8 /F /DCT ID " + jpg + b" EI Q\n"
    )
    pdf = _minimal_pdf_with_content(content)
    (page,) = minipdf.extract_page_images(pdf)
    assert [e["name"] for e in page] == ["inline0", "inline1", "inline2"]
    assert page[0]["format"] == "raw" and page[0]["data"] == px
    assert page[1]["format"] == "raw" and page[1]["data"] == px
    assert page[2]["format"] == "jpeg" and page[2]["data"] == jpg
    assert page[2]["decodable"] is True
    # text extraction unaffected by the binary runs
    assert minipdf.extract_page_texts(pdf) == ["inline test"]


def test_inline_image_with_planted_ei_inside_payload():
    """Unfiltered extent comes from W*H*BPC (rows byte-padded), so a
    literal ' EI ' inside the sample bytes cannot truncate it."""
    px = bytearray(_gradient())
    px[20:24] = b" EI "  # plant the delimiter inside the data
    px = bytes(px)
    content = b"q BI /W 16 /H 8 /CS /G /BPC 8 ID " + px + b" EI Q\n"
    pdf = _minimal_pdf_with_content(content)
    (page,) = minipdf.extract_page_images(pdf)
    assert page[0]["data"] == px


def test_inline_images_mixed_with_xobjects():
    from pdf2dataset_spark.sources.jpeg import encode_jpeg

    px = _gradient()
    jpg = encode_jpeg(16, 8, px, quality=90)
    pdf, jpg2, _ = _image_pdf()
    # xobject pdf has no inline images; entries keep XObject names
    names = [e["name"] for e in minipdf.extract_page_images(pdf)[0]]
    assert names == ["/Im0", "/Im1", "/Im2"]


def test_xobject_and_inline_copies_are_byte_identical():
    """a19's fixture contract: the same JPEG planted as XObject and
    inline image must extract byte-identically from both paths."""
    import numpy as np

    from pdf2dataset_spark.sources.jpeg import encode_jpeg

    w, h = 32, 16
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1),
         (xx + yy) * 255 // (w + h - 2)],
        axis=-1,
    ).astype(np.uint8)
    jpg = encode_jpeg(w, h, rgb.tobytes(), quality=90, ncomp=3)
    base = minipdf.build_pdf(
        ["color page"],
        images=[{"filter": "/DCTDecode", "width": w, "height": h,
                 "data": jpg, "colorspace": "/DeviceRGB"}],
    )
    marker = b"stream\n"
    i = base.index(marker)
    j = base.index(b"\nendstream", i)
    content = base[i + len(marker) : j]
    inline = b"\nq BI /W 32 /H 16 /F /DCT ID " + jpg + b" EI Q"
    patched = content + inline
    head_start = base.rindex(b"<<", 0, i)
    doc = (
        base[:head_start]
        + f"<< /Length {len(patched)} >>".encode()
        + b"\n" + marker + patched + base[j:]
    )
    (page,) = minipdf.extract_page_images(doc)
    assert [e["name"] for e in page] == ["/Im0", "inline0"]
    assert page[0]["data"] == jpg and page[1]["data"] == jpg
    assert all(e["decodable"] for e in page)  # color decode is real now


def test_inline_image_array_colorspace_does_not_abort_scan():
    """ADVICE r4: an unfiltered inline image with an ARRAY colorspace
    ([/Indexed /DeviceRGB 255 <palette>], common in scanned PDFs) used
    to crash inline_images with 'unhashable type: list', losing every
    other image on the page. /Indexed is 1 component; the scan must
    also survive arbitrary unknown array colorspaces."""
    px = _gradient(4, 4)  # 16 one-byte palette indices
    palette = bytes(range(48))
    content = (
        b"q BI /W 4 /H 4 /CS [/I /RGB 15 <"
        + palette.hex().encode() + b">] /BPC 8 ID " + px + b" EI Q\n"
        b"q BI /W 16 /H 8 /CS /G /BPC 8 ID " + _gradient() + b" EI Q\n"
    )
    pdf = _minimal_pdf_with_content(content)
    (page,) = minipdf.extract_page_images(pdf)
    assert [e["name"] for e in page] == ["inline0", "inline1"]
    assert page[0]["data"] == px  # 1 component => W*H bytes exactly
    assert page[1]["data"] == _gradient()  # later images not lost


def test_jpeg_fill_bytes_before_markers_decode():
    """ITU-T T.81 B.1.1.2: 0xFF fill bytes may pad any marker; a
    spec-valid baseline file padded this way must decode identically
    to the unpadded file (ADVICE r4: it was rejected as 0xFFFF)."""
    from pdf2dataset_spark.sources.jpeg import decode_jpeg, encode_jpeg

    px = _gradient()
    jpg = encode_jpeg(16, 8, px, quality=90)
    # pad every pre-scan marker with fill bytes: insert 0xFF before
    # each segment marker after SOI up to (and including) SOS
    out = bytearray(jpg[:2])
    pos = 2
    while pos < len(jpg):
        assert jpg[pos] == 0xFF
        out += b"\xff\xff\xff"  # three fill bytes before the marker
        if jpg[pos + 1] == 0xDA:  # SOS: copy the rest verbatim
            out += jpg[pos:]
            break
        (seglen,) = struct.unpack(">H", jpg[pos + 2 : pos + 4])
        out += jpg[pos : pos + 2 + seglen]
        pos += 2 + seglen
    padded = bytes(out)
    assert padded != jpg
    assert decode_jpeg(padded) == decode_jpeg(jpg)


class TestCcittG4:
    """CCITT Group 4 (/CCITTFaxDecode, /K < 0 — THE fax/scan codec):
    codec round-trips, PDF extraction with DecodeParms, scanned-page
    OCR routing, and pHash flow (round-5 what's-missing #4)."""

    def _text_raster(self, text="CCITT G4 SCAN\nfax codec line"):
        from pdf2dataset_spark.sources import raster

        w, h, px = raster._rasterize(text)
        return text, w, h, bytes(px)

    def test_roundtrip_adversarial_bitmaps(self):
        import numpy as np

        from pdf2dataset_spark.sources import ccitt

        rng = np.random.default_rng(3)
        stripes = np.where(np.arange(64)[None, :] % 2, 255, 0).astype(
            np.uint8
        ).repeat(16, 0).reshape(16, 64)
        cases = [
            np.full((20, 100), 255, np.uint8),  # all white (V-modes)
            np.full((20, 100), 0, np.uint8),  # all black
            stripes,  # 1-px runs (horizontal mode, term codes)
            (rng.random((30, 75)) < 0.4).astype(np.uint8) * 255,  # noise
            np.pad(  # >2560-px runs (extended makeup codes)
                np.zeros((4, 300), np.uint8), ((0, 0), (2700, 0)),
                constant_values=255,
            ),
            np.array([[0], [255], [0], [255]], np.uint8),  # 1 column
        ]
        _, w, h, px = self._text_raster()
        cases.append(np.frombuffer(px, np.uint8).reshape(h, w))
        for img in cases:
            hh, ww = img.shape
            want = np.where(img < 128, 0, 255).astype(np.uint8)
            for align in (False, True):
                enc = ccitt.encode_g4(img.tobytes(), ww, hh, byte_align=align)
                for rows in (hh, None):  # explicit Rows and EOFB stop
                    w2, h2, gray = ccitt.decode_g4_gray(
                        enc, ww, rows=rows, byte_align=align
                    )
                    got = np.frombuffer(gray, np.uint8).reshape(h2, w2)
                    assert (w2, h2) == (ww, hh)
                    assert np.array_equal(got, want)

    def test_roundtrip_property_fuzz(self):
        import numpy as np

        from pdf2dataset_spark.sources import ccitt

        rng = np.random.default_rng(11)
        for _ in range(40):
            hh = int(rng.integers(1, 25))
            ww = int(rng.integers(1, 120))
            img = (rng.random((hh, ww)) < float(rng.random())).astype(
                np.uint8
            ) * 255
            enc = ccitt.encode_g4(img.tobytes(), ww, hh)
            _, _, gray = ccitt.decode_g4_gray(enc, ww, rows=hh)
            assert np.frombuffer(gray, np.uint8).reshape(hh, ww).tobytes() \
                == img.tobytes()

    def test_truncated_and_garbage_streams_raise_valueerror(self):
        from pdf2dataset_spark.sources import ccitt

        _, w, h, px = self._text_raster()
        enc = ccitt.encode_g4(px, w, h)
        with pytest.raises(ValueError):
            ccitt.decode_g4(enc[: len(enc) // 2], w, rows=h)
        with pytest.raises(ValueError):
            ccitt.decode_g4(b"\x00\x00\x00\x00\x00\x00", w, rows=2)

    def test_page_images_decodes_g4_with_decode_parms(self):
        from pdf2dataset_spark.sources import ccitt

        _, w, h, px = self._text_raster()
        g4 = ccitt.encode_g4(px, w, h)
        pdf = minipdf.build_pdf(
            [""],
            images=[{"filter": "/CCITTFaxDecode", "width": w, "height": h,
                     "data": g4, "bits": 1,
                     "decode_parms": {"/K": -1, "/Columns": w, "/Rows": h}}],
        )
        doc = minipdf.PdfDocument(pdf)
        (entry,) = doc.page_images(doc.pages()[0], decode_pixels=True)
        assert entry["format"] == "ccitt" and entry["decodable"] is True
        assert entry["data"] == g4  # compressed payload still surfaced
        assert entry["pixels"] == px
        assert entry["ccitt_params"] == {
            "k": -1, "columns": w, "rows": h, "byte_align": False,
        }

    def test_g3_2d_and_corrupt_streams_stay_honestly_undecodable(self):
        _, w, h, px = self._text_raster()
        for parms in (
            {"/K": 4, "/Columns": w, "/Rows": h},  # G3 mixed 2D: named
            {"/K": -1, "/Columns": w, "/Rows": h},  # G4 but garbage data
            {"/K": 0, "/Columns": w, "/Rows": h},  # G3 1D but garbage
        ):
            pdf = minipdf.build_pdf(
                [""],
                images=[{"filter": "/CCITTFaxDecode", "width": w,
                         "height": h, "data": b"\x00\x01\x02\x03",
                         "bits": 1, "decode_parms": parms}],
            )
            (entry,) = minipdf.extract_page_images(pdf)[0]
            assert entry["format"] == "ccitt"
            assert entry["decodable"] is False
            assert entry["data"] == b"\x00\x01\x02\x03"

    def test_g3_1d_roundtrip_and_extraction(self):
        """G3 one-dimensional (/K 0, T.4 MH): codec round-trips the
        adversarial bitmaps (with/without EOLs and byte alignment) and
        a /K 0 XObject extracts + scanned-OCRs like a G4 one."""
        import numpy as np

        from pdf2dataset_spark.sources import ccitt, raster
        from pdf2dataset_spark.sources.codecs import PdfCodec

        rng = np.random.default_rng(9)
        text, w, h, px = self._text_raster()
        cases = [
            np.full((10, 80), 255, np.uint8),
            np.full((10, 80), 0, np.uint8),
            (rng.random((20, 66)) < 0.3).astype(np.uint8) * 255,
            np.pad(np.zeros((3, 200), np.uint8), ((0, 0), (2800, 0)),
                   constant_values=255),  # >2560 runs (ext makeup)
            np.frombuffer(px, np.uint8).reshape(h, w),
        ]
        for img in cases:
            hh, ww = img.shape
            want = np.where(img < 128, 0, 255).astype(np.uint8).tobytes()
            for align in (False, True):
                for eol in (False, True):
                    enc = ccitt.encode_g3_1d(
                        img.tobytes(), ww, hh, byte_align=align, with_eol=eol
                    )
                    got = ccitt.decode_ccitt_gray(
                        enc, 0, ww, rows=hh, byte_align=align
                    )
                    assert got == (ww, hh, want), (align, eol, img.shape)
                    # rows=None: stop at data end
                    got2 = ccitt.decode_ccitt_gray(enc, 0, ww, byte_align=align)
                    assert got2 == (ww, hh, want)
        g3 = ccitt.encode_g3_1d(px, w, h)
        pdf = minipdf.build_pdf(
            [""],
            images=[{"filter": "/CCITTFaxDecode", "width": w, "height": h,
                     "data": g3, "bits": 1,
                     "decode_parms": {"/K": 0, "/Columns": w, "/Rows": h}}],
        )
        (entry,) = minipdf.extract_page_images(pdf)[0]
        assert entry["decodable"] is True and entry["ccitt_params"]["k"] == 0
        codec = PdfCodec()
        assert codec.page_ocr(codec.open(pdf), 1) == text

    def test_g3_2d_mixed_roundtrip_and_extraction(self):
        """G3 mixed two-dimensional (/K > 0, T.4 §4.2 — the fax K-factor
        regime): EOL+tag framed 1D/2D interleaved lines round-trip the
        adversarial bitmaps across K values and byte alignment, and a
        /K 4 XObject extracts + scanned-OCRs like a G4 one."""
        import numpy as np

        from pdf2dataset_spark.sources import ccitt
        from pdf2dataset_spark.sources.codecs import PdfCodec

        rng = np.random.default_rng(17)
        text, w, h, px = self._text_raster()
        cases = [
            np.full((10, 80), 255, np.uint8),
            np.full((10, 80), 0, np.uint8),
            (rng.random((20, 66)) < 0.3).astype(np.uint8) * 255,
            np.pad(np.zeros((3, 200), np.uint8), ((0, 0), (2800, 0)),
                   constant_values=255),  # >2560 runs (ext makeup)
            np.frombuffer(px, np.uint8).reshape(h, w),
        ]
        for img in cases:
            hh, ww = img.shape
            want = np.where(img < 128, 0, 255).astype(np.uint8).tobytes()
            for k in (1, 2, 4):
                for align in (False, True):
                    enc = ccitt.encode_g3_2d(
                        img.tobytes(), ww, hh, k=k, byte_align=align
                    )
                    got = ccitt.decode_ccitt_gray(
                        enc, k, ww, rows=hh, byte_align=align
                    )
                    assert got == (ww, hh, want), (k, align, img.shape)
                    # rows=None: stop at RTC
                    got2 = ccitt.decode_ccitt_gray(enc, k, ww, byte_align=align)
                    assert got2 == (ww, hh, want)
        # truncation with Rows given raises (A8 error-row contract)
        enc = ccitt.encode_g3_2d(px, w, h, k=4)
        with pytest.raises(ValueError):
            ccitt.decode_g3_2d(enc[: len(enc) // 3], w, rows=h)
        pdf = minipdf.build_pdf(
            [""],
            images=[{"filter": "/CCITTFaxDecode", "width": w, "height": h,
                     "data": enc, "bits": 1,
                     "decode_parms": {"/K": 4, "/Columns": w, "/Rows": h}}],
        )
        (entry,) = minipdf.extract_page_images(pdf)[0]
        assert entry["decodable"] is True and entry["ccitt_params"]["k"] == 4
        codec = PdfCodec()
        assert codec.page_ocr(codec.open(pdf), 1) == text

    def test_scanned_g4_page_routes_into_image_and_ocr(self):
        from pdf2dataset_spark.sources import ccitt, raster
        from pdf2dataset_spark.sources.codecs import PdfCodec

        text, w, h, px = self._text_raster()
        g4 = ccitt.encode_g4(px, w, h)
        pdf = minipdf.build_pdf(
            [""],
            images=[{"filter": "/CCITTFaxDecode", "width": w, "height": h,
                     "data": g4, "bits": 1,
                     "decode_parms": {"/K": -1, "/Columns": w, "/Rows": h}}],
        )
        codec = PdfCodec()
        hd = codec.open(pdf)
        assert codec.page_text(hd, 1) == ""
        assert raster.decode_png(codec.page_image(hd, 1)) == (w, h, bytearray(px))
        assert codec.page_ocr(hd, 1) == text

    def test_g4_scan_flows_into_phash(self):
        from pdf2dataset_spark.operators import image_hash as ih
        from pdf2dataset_spark.sources import ccitt, raster

        _, w, h, px = self._text_raster()
        g4 = ccitt.encode_g4(px, w, h)
        dw, dh, gray = ccitt.decode_g4_gray(g4, w, rows=h)
        assert ih.phash64(raster.encode_png(dw, dh, gray)) == ih.phash64(
            raster.encode_png(w, h, px)
        )


# ---------------------------------------------------------------------
# Type0 WITHOUT /ToUnicode: text via the embedded TrueType cmap
# ---------------------------------------------------------------------


def _type0_fontfile_pdf(
    content: bytes, font: bytes, cid2gid: bytes | None = None
) -> bytes:
    """One page whose /F1 is a Type0/CIDFontType2 font with NO
    /ToUnicode — text is only recoverable from the embedded
    /FontFile2's own cmap (optionally through a stream /CIDToGIDMap)."""
    c2g = b"/Identity" if cid2gid is None else b"8 0 R"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Embedded-CID "
        b"/Encoding /Identity-H /DescendantFonts [6 0 R] >>",
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Embedded-CID "
        b"/FontDescriptor 7 0 R /CIDToGIDMap " + c2g + b" >>",
        b"<< /Type /FontDescriptor /FontName /Embedded-CID /Flags 4 "
        + (b"/FontFile2 9 0 R >>" if cid2gid is not None
           else b"/FontFile2 8 0 R >>"),
    ]
    if cid2gid is not None:
        objs.append(
            b"<< /Length " + str(len(cid2gid)).encode() + b" >>\nstream\n"
            + cid2gid + b"\nendstream"
        )
    objs.append(
        b"<< /Length " + str(len(font)).encode() + b" >>\nstream\n"
        + font + b"\nendstream"
    )
    return _wrap_pdf(objs)


class TestType0EmbeddedFontCmap:
    """CID text recovery WITHOUT /ToUnicode (round-5 close of the
    what's-missing item): invert the embedded TrueType cmap."""

    def _fixture(self, text: str):
        from pdf2dataset_spark.sources import sfnt

        chars = sorted(set(text))
        mapping = {ord(ch): 3 + i for i, ch in enumerate(chars)}
        font = sfnt.build_sfnt_cmap(mapping)
        cids = [mapping[ord(ch)] for ch in text]
        hexstr = "".join(f"{c:04X}" for c in cids).encode()
        content = b"BT /F1 12 Tf <" + hexstr + b"> Tj ET"
        return font, content, mapping

    def test_identity_cidtogid_recovers_text(self):
        text = "CID text recovered!"
        font, content, _ = self._fixture(text)
        pdf = _type0_fontfile_pdf(content, font)
        assert minipdf.extract_page_texts(pdf) == [text]

    def test_stream_cidtogid_recovers_text(self):
        from pdf2dataset_spark.sources import sfnt

        text = "mapped via stream"
        chars = sorted(set(text))
        # glyphs live at arbitrary ids; CIDs 1..n indirect through the
        # /CIDToGIDMap stream (2 bytes per CID, big-endian)
        mapping = {ord(ch): 100 + 7 * i for i, ch in enumerate(chars)}
        font = sfnt.build_sfnt_cmap(mapping)
        cid_of = {ch: i + 1 for i, ch in enumerate(chars)}
        c2g = bytearray(2 * (len(chars) + 1))  # cid 0 -> gid 0
        for ch, cid in cid_of.items():
            gid = mapping[ord(ch)]
            c2g[2 * cid] = gid >> 8
            c2g[2 * cid + 1] = gid & 0xFF
        hexstr = "".join(f"{cid_of[ch]:04X}" for ch in text).encode()
        content = b"BT /F1 12 Tf <" + hexstr + b"> Tj ET"
        pdf = _type0_fontfile_pdf(content, font, cid2gid=bytes(c2g))
        assert minipdf.extract_page_texts(pdf) == [text]

    def test_tounicode_still_wins_over_fontfile(self):
        # a font carrying BOTH must use /ToUnicode (authoritative)
        content = b"BT /F1 12 Tf <0001> Tj ET"
        pdf = _type0_pdf(content, _CMAP)
        assert minipdf.extract_page_texts(pdf) == ["Ü"]

    def test_garbage_fontfile_falls_back_not_crashes(self):
        text_cids = b"BT /F1 12 Tf <0041> Tj ET"
        pdf = _type0_fontfile_pdf(text_cids, b"not a font at all")
        # falls back to the Latin-1-ish path (documented), no crash
        out = minipdf.extract_page_texts(pdf)
        assert len(out) == 1

    def test_format12_cmap_supported(self):
        from pdf2dataset_spark.sources import sfnt
        import struct as st

        # hand-build a format-12 subtable: U+1F600..02 -> gids 40..42
        groups = st.pack(">III", 0x1F600, 0x1F602, 40)
        sub = st.pack(">HHIII", 12, 0, 16 + 12, 0, 1) + groups
        cmap = st.pack(">HH", 0, 1) + st.pack(">HHI", 3, 10, 12) + sub
        header = st.pack(">IHHHH", 0x00010000, 1, 16, 0, 0)
        rec = b"cmap" + st.pack(">III", 0, 28, len(cmap))
        font = header + rec + cmap
        assert sfnt.unicode_to_gid(font) == {
            0x1F600: 40, 0x1F601: 41, 0x1F602: 42,
        }
        assert sfnt.gid_to_unicode(font)[40] == "😀"


def _cff_simple_pdf(content: bytes, font: bytes, with_encoding: bytes | None = None) -> bytes:
    """One page whose /F1 is a SIMPLE Type1 font with an embedded CFF
    (/FontFile3, Type1C), no /ToUnicode: text is only recoverable from
    the CFF program's own built-in encoding."""
    enc = b"/Encoding " + with_encoding if with_encoding else b""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Embedded-T1C "
        + enc + b" /FontDescriptor 6 0 R >>",
        b"<< /Type /FontDescriptor /FontName /Embedded-T1C /Flags 4 "
        b"/FontFile3 7 0 R >>",
        b"<< /Subtype /Type1C /Length " + str(len(font)).encode()
        + b" >>\nstream\n" + font + b"\nendstream",
    ]
    return _wrap_pdf(objs)


class TestCffBuiltinEncoding:
    """Simple-font text recovery from the embedded CFF (Type1C)
    program's CUSTOM built-in encoding — the /FontFile3 complement of
    the TrueType-cmap path (no /ToUnicode, no /Encoding dict)."""

    def _fixture(self, text: str):
        from pdf2dataset_spark.sources import cff

        # scramble: code i+1 shows the i-th distinct char — Latin-1
        # decoding would yield control chars, so recovery is provable
        import unicodedata

        chars = sorted(set(text))
        code_of = {ch: i + 1 for i, ch in enumerate(chars)}
        name_of = {
            " ": "space", "!": "exclam", ",": "comma", ".": "period",
            "'": "quotesingle",
        }
        c2n = {}
        for ch, code in code_of.items():
            c2n[code] = name_of.get(ch) or (
                ch if ch.isalpha() and ch.isascii()
                else f"uni{ord(ch):04X}"
            )
        font = cff.build_cff(c2n)
        body = bytes(code_of[ch] for ch in text)
        content = b"BT /F1 12 Tf (" + body + b") Tj ET"
        return font, content

    def test_cff_module_roundtrip(self):
        from pdf2dataset_spark.sources import cff

        m = {32: "space", 65: "A", 66: "quotedblleft", 67: "myglyph",
             233: "eacute", 200: "uni0416"}
        assert cff.code_to_glyph_names(cff.build_cff(m)) == m

    def test_custom_encoding_recovers_scrambled_text(self):
        text = "Hello CFF recovery!"
        font, content = self._fixture(text)
        pdf = _cff_simple_pdf(content, font)
        assert minipdf.extract_page_texts(pdf) == [text]

    def test_non_latin_glyphs_via_uni_names(self):
        text = "café ЖЖ"
        font, content = self._fixture(text)
        pdf = _cff_simple_pdf(content, font)
        assert minipdf.extract_page_texts(pdf) == [text]

    def test_encoding_dict_wins_over_builtin(self):
        # /Differences maps code 1 to 'Z'; the CFF's built-in encoding
        # would say 'H' - the PDF-side dict is authoritative
        text = "H"
        font, content = self._fixture(text)
        pdf = _cff_simple_pdf(
            content, font,
            with_encoding=b"<< /Differences [1 /Z] >>",
        )
        assert minipdf.extract_page_texts(pdf) == ["Z"]

    def test_garbage_cff_falls_back_not_crashes(self):
        content = b"BT /F1 12 Tf (AB) Tj ET"
        pdf = _cff_simple_pdf(content, b"\x00garbage not a font\xff")
        assert minipdf.extract_page_texts(pdf) == ["AB"]  # Latin-1 fallback

    def test_cid_keyed_cff_returns_empty_map(self):
        from pdf2dataset_spark.sources import cff

        # minimal CID-keyed marker: Top DICT with ROS (12 30)
        font = bytearray(cff.build_cff({1: "A"}))
        # parse path: build a font then verify code_to_glyph_names on a
        # synthetic ROS dict returns {} via the public API
        ros_top = cff._write_index([
            b"\x1d\x00\x00\x00\x00\x1d\x00\x00\x00\x00\x1d\x00\x00\x00\x00"
            b"\x0c\x1e"  # three dummy ints + ROS op
        ])
        hdr = bytes([1, 0, 4, 1])
        name_idx = cff._write_index([b"CidFont"])
        data = hdr + name_idx + ros_top + cff._write_index([]) + cff._write_index([])
        assert cff.code_to_glyph_names(data) == {}

    def test_predefined_encoding_returns_empty_map(self):
        from pdf2dataset_spark.sources import cff

        font = bytearray(cff.build_cff({1: "A", 2: "B"}))
        # patch the Top DICT's Encoding operand to 0 (Standard): the
        # parser must decline rather than invent a map
        names = cff.code_to_glyph_names(bytes(font))
        assert names  # sanity: custom encoding parses
        s = bytes(font)
        # rebuild with the Encoding operand patched to 0 (Standard)
        import struct as _s
        idx = s.find(b"\x1d", s.find(b"\x1d") + 5)  # second op29 = Encoding
        patched = s[:idx + 1] + _s.pack(">i", 0) + s[idx + 5:]
        assert cff.code_to_glyph_names(patched) == {}


class TestCidKeyedCff:
    """Round-8 close of what's-missing #3: CID-keyed CFF parsing
    (charset→CID, FDArray, FDSelect) and the three Type0/FontFile3
    text-recovery paths built on it."""

    def test_cid_font_info_roundtrip_all_formats(self):
        from pdf2dataset_spark.sources import cff

        cids = [100, 101, 102, 500, 7, 8, 9, 10, 40000]
        fds = [0, 0, 1, 1, 1, 0, 2, 2, 0, 0]
        for cfmt in (0, 1, 2):
            for ffmt in (0, 3):
                font = cff.build_cff_cid(
                    cids, charset_fmt=cfmt, fdselect_fmt=ffmt,
                    fd_of_gid=fds,
                )
                info = cff.cid_font_info(font)
                assert info["gid_to_cid"] == [0] + cids, (cfmt, ffmt)
                assert info["fd_of_gid"] == fds, (cfmt, ffmt)
                assert info["registry"] == "Adobe"
                assert info["ordering"] == "Identity"
                assert len(info["fd_dicts"]) == 3
                assert info["cid_to_gid"][500] == 4
                # name-oriented APIs must decline the CID-keyed font
                assert cff.gid_to_name(font) is None
                assert cff.code_to_glyph_names(font) == {}

    def test_cid_font_info_property(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from pdf2dataset_spark.sources import cff

        @settings(max_examples=40, deadline=None)
        @given(
            cids=st.lists(
                st.integers(min_value=0, max_value=0xFFFF),
                min_size=1, max_size=40, unique=True,
            ),
            cfmt=st.sampled_from([0, 1, 2]),
            ffmt=st.sampled_from([0, 3]),
            data=st.data(),
        )
        def check(cids, cfmt, ffmt, data):
            n = len(cids) + 1
            fds = data.draw(
                st.lists(
                    st.integers(min_value=0, max_value=3),
                    min_size=n, max_size=n,
                )
            )
            font = cff.build_cff_cid(
                cids, charset_fmt=cfmt, fdselect_fmt=ffmt, fd_of_gid=fds
            )
            info = cff.cid_font_info(font)
            assert info["gid_to_cid"] == [0] + cids
            assert info["fd_of_gid"] == fds
            # inverse maps every CID to its lowest gid
            for gid, cid in enumerate(info["gid_to_cid"]):
                assert info["cid_to_gid"][cid] <= gid

        check()

    def test_name_keyed_gid_to_name(self):
        from pdf2dataset_spark.sources import cff

        font = cff.build_cff({65: "A", 66: "B", 97: "aacute"})
        assert cff.gid_to_name(font) == {
            0: ".notdef", 1: "A", 2: "B", 3: "aacute",
        }
        assert cff.cid_font_info(font) is None

    def test_sfnt_table_accessor(self):
        from pdf2dataset_spark.sources import cff, sfnt

        inner = cff.build_cff_cid([5, 6])
        otto = sfnt.build_sfnt_cmap(
            {0x41: 1}, extra_tables={b"CFF ": inner},
            version_tag=0x4F54544F,
        )
        assert sfnt.table(otto, b"CFF ") == inner
        assert sfnt.table(otto, b"glyf") is None
        assert sfnt.unicode_to_gid(otto) == {0x41: 1}

    def test_otto_cid_keyed_text_recovery(self):
        from pdf2dataset_spark.queries.tier_a import _cid_keyed_otto_pdf

        text = "中文 CID ✓"
        pdf = _cid_keyed_otto_pdf(text)
        assert minipdf.extract_page_texts(pdf) == [text]

    def test_named_cff_in_cidfont_slot(self):
        from pdf2dataset_spark.queries.tier_a import _named_cff_cid_pdf

        text = "Named CFF, as CIDFont!"
        assert minipdf.extract_page_texts(_named_cff_cid_pdf(text)) == [text]

    def test_ucs2_predefined_cmap(self):
        from pdf2dataset_spark.queries.tier_a import _ucs2_cmap_pdf

        text = "統一碼 via UCS2"
        assert minipdf.extract_page_texts(_ucs2_cmap_pdf(text)) == [text]

    def test_bare_cid_keyed_cff_honest_fallback(self):
        # a bare CIDFontType0C with NO cmap and NO /ToUnicode has no
        # in-font unicode: the decoder must fall back (replacement
        # chars for wide codes), never guess
        from pdf2dataset_spark.queries.tier_a import _type0_ff3_pdf
        from pdf2dataset_spark.sources import cff

        font = cff.build_cff_cid([1000, 1001, 1002])
        pdf = _type0_ff3_pdf([1000, 1001], font)
        [text] = minipdf.extract_page_texts(pdf)
        # no map registered → the raw show bytes ride the documented
        # Latin-1 fallback, exactly as any unmapped font does
        codes = b"\x03\xe8\x03\xe9"  # 1000, 1001 big-endian
        assert text == codes.decode("latin-1")

    def test_malformed_fdselect_declines(self):
        from pdf2dataset_spark.sources import cff

        font = bytearray(cff.build_cff_cid([7, 8], fdselect_fmt=0))
        # find the FDSelect (format-0: 0x00 then 3 fd bytes) right
        # after the charset; corrupt its format byte to 9
        info = cff.cid_font_info(bytes(font))
        assert info is not None  # sanity
        # brute-force: corrupt every byte position in turn; parsing
        # must either succeed or raise a clean declared error — no
        # other exception may escape (untrusted embedded fonts)
        for i in range(len(font)):
            mutated = bytes(font[:i]) + b"\x09" + bytes(font[i + 1:])
            try:
                cff.cid_font_info(mutated)
            except (ValueError, IndexError, struct.error):
                pass


def _type1_simple_pdf(content: bytes, font: bytes) -> bytes:
    """One page whose /F1 is a simple Type1 font embedded as
    /FontFile (PostScript program), no /ToUnicode, no /Encoding."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Embedded-T1 "
        b"/FontDescriptor 6 0 R >>",
        b"<< /Type /FontDescriptor /FontName /Embedded-T1 /Flags 4 "
        b"/FontFile 7 0 R >>",
        b"<< /Length1 " + str(len(font)).encode() + b" /Length "
        + str(len(font)).encode() + b" >>\nstream\n" + font
        + b"\nendstream",
    ]
    return _wrap_pdf(objs)


class TestType1BuiltinEncoding:
    """Simple-font text recovery from an embedded PostScript Type1
    program's custom encoding (/FontFile) — the third member of the
    embedded-font trio (FontFile2 TrueType, FontFile3 CFF)."""

    def test_module_roundtrip_pfb_eexec_hex(self):
        import struct

        from pdf2dataset_spark.sources import type1

        m = {1: "H", 2: "e", 32: "space", 200: "uni0416"}
        f = type1.build_type1(m)
        assert type1.code_to_glyph_names(f) == m
        pfb = b"\x80\x01" + struct.pack("<I", len(f)) + f + b"\x80\x03"
        assert type1.code_to_glyph_names(pfb) == m

        def eexec_encrypt(plain):
            r = 55665
            c1, c2 = 52845, 22719
            out = bytearray()
            for b in b"\x00\x00\x00\x00" + plain:
                c = b ^ (r >> 8)
                out.append(c)
                r = ((c + r) * c1 + c2) & 0xFFFF
            return bytes(out)

        hidden = (b"/Encoding 256 array\ndup 5 /Agrave put\n"
                  b"readonly def\n")
        base = b"%!PS-AdobeFont-1.0\n/FontType 1 def\ncurrentfile eexec\n"
        assert type1.code_to_glyph_names(
            base + eexec_encrypt(hidden)
        ) == {5: "Agrave"}
        assert type1.code_to_glyph_names(
            base + eexec_encrypt(hidden).hex().encode()
        ) == {5: "Agrave"}
        std = b"%!PS\n/Encoding StandardEncoding def\n"
        assert type1.code_to_glyph_names(std) == {}
        assert type1.code_to_glyph_names(b"\xff\xfenot a font") == {}

    def test_custom_encoding_recovers_scrambled_text(self):
        from pdf2dataset_spark.sources import type1

        text = "Type1 works, too!"
        chars = sorted(set(text))
        code_of = {ch: i + 1 for i, ch in enumerate(chars)}
        name_of = {" ": "space", "!": "exclam", ",": "comma",
                   "1": "one", "T": "T"}
        c2n = {
            code: name_of.get(ch)
            or (ch if ch.isalpha() and ch.isascii() else f"uni{ord(ch):04X}")
            for ch, code in code_of.items()
        }
        font = type1.build_type1(c2n)
        body = bytes(code_of[ch] for ch in text)
        pdf = _type1_simple_pdf(b"BT /F1 12 Tf (" + body + b") Tj ET", font)
        assert minipdf.extract_page_texts(pdf) == [text]

    def test_garbage_type1_falls_back(self):
        pdf = _type1_simple_pdf(b"BT /F1 12 Tf (AB) Tj ET", b"\x00junk")
        assert minipdf.extract_page_texts(pdf) == ["AB"]


class TestAnnotationsAndOutline:
    """Annotation text (/Annots: markup /Contents, form /V) and the
    bookmark outline (/Outlines tree) — corpus signals beyond the
    page's content stream."""

    def _pdf(self):
        utf16_note = "\xfe\xff".encode("latin-1") + "Résumé note".encode(
            "utf-16-be"
        )
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R /Outlines 10 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Annots [5 0 R 6 0 R 7 0 R 8 0 R 9 0 R] >>",
            b"<< /Length 24 >>\nstream\nBT (body text) Tj ET\nendstream",
            b"<< /Type /Annot /Subtype /Text /Contents (a sticky comment) >>",
            b"<< /Type /Annot /Subtype /Highlight /Contents (" + utf16_note
            + b") >>",
            b"<< /Type /Annot /Subtype /Widget /T (name) /V (Ada) >>",
            b"<< /Type /Annot /Subtype /Widget /T (choice) /V /OptionB >>",
            b"<< /Type /Annot /Subtype /Popup /Contents (dup of parent) >>",
            b"<< /Type /Outlines /First 11 0 R /Last 12 0 R >>",
            b"<< /Title (Chapter 1) /Parent 10 0 R /Next 12 0 R "
            b"/First 13 0 R /Last 13 0 R >>",
            b"<< /Title (Chapter 2) /Parent 10 0 R /Prev 11 0 R >>",
            b"<< /Title (Section 1.1) /Parent 11 0 R >>",
        ]
        return _wrap_pdf(objs)

    def test_page_annotations_order_decode_and_popup_skip(self):
        doc = minipdf.PdfDocument(self._pdf())
        notes = doc.page_annotations(doc.pages()[0])
        assert notes == [
            "a sticky comment",
            "Résumé note",
            "Ada",
            "OptionB",
        ]

    def test_outline_flattening_with_depth(self):
        doc = minipdf.PdfDocument(self._pdf())
        assert doc.outline() == [
            (0, "Chapter 1"),
            (1, "Section 1.1"),
            (0, "Chapter 2"),
        ]

    def test_outline_cycle_guard(self):
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R /Outlines 4 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R >>",
            b"<< /Type /Outlines /First 5 0 R >>",
            b"<< /Title (loop) /Next 5 0 R >>",  # self-cycle
        ]
        doc = minipdf.PdfDocument(_wrap_pdf(objs))
        assert doc.outline() == [(0, "loop")]

    def test_features_surface(self):
        from pdf2dataset_spark.operators import features as ft
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        hd = codec.open(self._pdf())
        ctx = ft.PageContext(path="mem", codec=codec, handle=hd, page=1)
        assert ft.BUILTIN_FEATURES["n_annotations"].fn(ctx) == 4
        assert "sticky comment" in ft.BUILTIN_FEATURES["annotations"].fn(ctx)
        assert ft.BUILTIN_FEATURES["outline"].fn(ctx) == (
            "Chapter 1\n  Section 1.1\nChapter 2"
        )

    def test_absent_annots_and_outline_are_none(self):
        from pdf2dataset_spark.operators import features as ft
        from pdf2dataset_spark.sources.codecs import PdfCodec

        pdf = minipdf.build_pdf(["plain page"])
        codec = PdfCodec()
        hd = codec.open(pdf)
        ctx = ft.PageContext(path="mem", codec=codec, handle=hd, page=1)
        assert ft.BUILTIN_FEATURES["annotations"].fn(ctx) is None
        assert ft.BUILTIN_FEATURES["n_annotations"].fn(ctx) == 0
        assert ft.BUILTIN_FEATURES["outline"].fn(ctx) is None


class TestAttachments:
    """Embedded file attachments: name tree (flat + /Kids), filter
    chains undone, /UF preference, /FileAttachment annotations,
    duplicate filespec dedup, malformed skip."""

    def test_name_tree_kids_and_annotation(self):
        import zlib

        payload = b"kid-tree file"
        z = zlib.compress(payload)
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R /Names << /EmbeddedFiles "
            b"<< /Kids [10 0 R] >> >> >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Annots [6 0 R] >>",
            b"<< /Type /Filespec /F (legacy.txt) /UF (" +
            "\xfe\xff".encode("latin-1") + "unïcode.txt".encode("utf-16-be")
            + b") /EF << /F 5 0 R >> >>",
            b"<< /Filter /FlateDecode /Length " + str(len(z)).encode()
            + b" >>\nstream\n" + z + b"\nendstream",
            # annotation pointing at the SAME filespec: deduped
            b"<< /Type /Annot /Subtype /FileAttachment /FS 4 0 R >>",
            b"<< >>",  # filler
            b"<< >>",
            b"<< >>",
            b"<< /Names [(x) 4 0 R] >>",  # the /Kids leaf
        ]
        doc = minipdf.PdfDocument(_wrap_pdf(objs))
        atts = doc.attachments()
        assert len(atts) == 1  # same /EF stream via tree AND annot
        assert atts[0]["name"] == "unïcode.txt"  # /UF wins
        assert atts[0]["data"] == payload
        assert atts[0]["size"] == len(payload)

    def test_malformed_filespec_skipped(self):
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R /Names << /EmbeddedFiles "
            b"<< /Names [(bad) 4 0 R (none) 5 0 R] >> >> >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R >>",
            b"<< /Type /Filespec /F (bad) /EF << /F 99 0 R >> >>",  # dangling
            b"<< /Type /Filespec /F (none) >>",  # no /EF
        ]
        doc = minipdf.PdfDocument(_wrap_pdf(objs))
        assert doc.attachments() == []


class TestCmykJpeg:
    """Adobe CMYK / YCCK /DCTDecode payloads (print-production PDFs)."""

    def _cmyk(self, w, h, seed=9):
        import numpy as np

        rng = np.random.default_rng(seed)
        return rng.integers(0, 256, size=(h, w, 4), dtype=np.uint8)

    def _want_rgb(self, cmyk):
        import numpy as np

        c = cmyk.astype(float)
        return np.stack(
            [(255 - c[..., 0]) * (255 - c[..., 3]),
             (255 - c[..., 1]) * (255 - c[..., 3]),
             (255 - c[..., 2]) * (255 - c[..., 3])], axis=-1,
        ) / 255.0

    @pytest.mark.parametrize("transform", [0, 2])
    def test_adobe_cmyk_round_trip(self, transform):
        import numpy as np

        from pdf2dataset_spark.sources.jpeg import decode_jpeg, encode_jpeg

        w, h = 40, 24
        cmyk = self._cmyk(w, h, 9 + transform)
        data = encode_jpeg(w, h, cmyk.tobytes(), quality=95, ncomp=4,
                           adobe_transform=transform)
        dw, dh, out = decode_jpeg(data)
        assert (dw, dh) == (w, h)
        got = np.frombuffer(out, np.uint8).reshape(h, w, 3).astype(float)
        err = np.abs(got - self._want_rgb(cmyk))
        assert err.max() < 30 and err.mean() < 3

    def test_plain_cmyk_without_app14(self):
        import numpy as np

        from pdf2dataset_spark.sources.jpeg import decode_jpeg, encode_jpeg

        w, h = 24, 16
        cmyk = self._cmyk(w, h, 11)
        data = encode_jpeg(w, h, cmyk.tobytes(), quality=95, ncomp=4)
        at = data.index(b"\xff\xee")
        seg_len = int.from_bytes(data[at + 2:at + 4], "big")
        plain = data[:at] + data[at + 2 + seg_len:]
        # without APP14 the channels read as PLAIN CMYK: since the
        # encoder stored inverted values, the decode inverts meaning —
        # still a valid decode (gray world flips), never an error
        dw, dh, out = decode_jpeg(plain)
        assert (dw, dh, len(out)) == (w, h, w * h * 3)

    def test_cmyk_xobject_through_page_images(self):
        import numpy as np

        from pdf2dataset_spark.sources.jpeg import encode_jpeg

        w, h = 30, 20
        cmyk = self._cmyk(w, h, 12)
        data = encode_jpeg(w, h, cmyk.tobytes(), quality=95, ncomp=4)
        pdf = minipdf.build_pdf(
            [""],
            images=[{"filter": "/DCTDecode", "width": w, "height": h,
                     "data": data, "colorspace": "/DeviceCMYK"}],
        )
        (entry,) = minipdf.extract_page_images(pdf, decode_pixels=True)[0]
        assert entry["format"] == "jpeg"
        assert entry["decodable"] is True
        got = np.frombuffer(entry["pixels"], np.uint8).reshape(h, w, 3)
        err = np.abs(got.astype(float) - self._want_rgb(cmyk))
        assert err.max() < 30


def test_unsupported_jpeg_precision_rejected():
    # 8 and 12 bits decode (T.81's DCT precisions); anything else
    # would silently mis-scale through the level-shift path and must
    # raise by name instead (error row, not wrong pixels)
    import pytest as _pytest

    from pdf2dataset_spark.sources.jpeg import decode_jpeg, encode_jpeg

    data = bytearray(encode_jpeg(16, 8, bytes(128), quality=80))
    at = bytes(data).index(b"\xff\xc0")
    data[at + 4] = 10
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(data))


class TestDecodeParmsArrayAlignment:
    """PDF 7.4: a /DecodeParms ARRAY aligns index-wise with /Filter.
    A parms dict that legally omits /K (K defaults to 0) but carries
    /Columns must still be selected — previously the array scan keyed
    on '/K' presence and silently fell back to Columns=1728."""

    def test_parms_for_filter_index_alignment(self):
        ident = lambda x: x
        sdict = {
            "/Filter": ["/FlateDecode", "/CCITTFaxDecode"],
            "/DecodeParms": [{"/Predictor": 12}, {"/Columns": 100}],
        }
        p = minipdf._parms_for_filter(
            sdict, ident, "/CCITTFaxDecode", ("/K", "/Columns")
        )
        assert p == {"/Columns": 100}

    def test_parms_for_filter_fallback_on_null_padding(self):
        ident = lambda x: x
        sdict = {
            "/Filter": ["/FlateDecode", "/CCITTFaxDecode"],
            "/DecodeParms": [None, None],
        }
        assert minipdf._parms_for_filter(
            sdict, ident, "/CCITTFaxDecode", ("/K",)
        ) == {}
        sdict = {
            "/Filter": "/CCITTFaxDecode",  # scalar filter, array parms
            "/DecodeParms": [{"/EncodedByteAlign": True}],
        }
        assert minipdf._parms_for_filter(
            sdict, ident, "/CCITTFaxDecode", ("/K", "/EncodedByteAlign")
        ) == {"/EncodedByteAlign": True}

    def test_fallback_never_adopts_predictor_dict(self):
        ident = lambda x: x
        sdict = {
            "/Filter": ["/FlateDecode", "/CCITTFaxDecode"],
            "/DecodeParms": [{"/Predictor": 12, "/Columns": 8}],
        }
        # index 1 out of range; the Flate predictor dict carries
        # /Columns but must NOT be adopted for CCITT
        assert minipdf._parms_for_filter(
            sdict, ident, "/CCITTFaxDecode", ("/K", "/Columns")
        ) == {}

    def test_page_images_kless_parms_array(self):
        from pdf2dataset_spark.sources import ccitt

        w, h = 48, 20
        px = bytes(
            0 if (r // 4 + c // 6) % 2 else 255
            for r in range(h)
            for c in range(w)
        )
        enc = ccitt.encode_g3_1d(px, w, h)  # K=0 is the PDF default
        pdf = minipdf.build_pdf(
            [""],
            images=[{"filter": "/CCITTFaxDecode", "width": w, "height": h,
                     "data": enc, "bits": 1,
                     "decode_parms": {"/Columns": w, "/Rows": h}}],
        )
        # Rewrite the XObject head to ARRAY form (same byte length so
        # the xref stays valid): /Filter [..] /DecodeParms [<<..>>].
        orig = (
            b"/Filter /CCITTFaxDecode"
            b" /DecodeParms << /Columns 48 /Rows 20 >>"
        )
        assert orig in pdf
        repl = (
            b"/Filter[/CCITTFaxDecode]"
            b"/DecodeParms[<</Columns 48 /Rows 20>>]"
        )
        repl += b" " * (len(orig) - len(repl))
        assert len(repl) == len(orig)
        doc = minipdf.PdfDocument(pdf.replace(orig, repl))
        (entry,) = doc.page_images(doc.pages()[0], decode_pixels=True)
        assert entry["decodable"] is True
        assert entry["ccitt_params"]["k"] == 0
        assert entry["ccitt_params"]["columns"] == w
        assert entry["pixels"] == px


class TestLayoutText:
    """Reading-order extraction (content_text_layout): positioning
    state machine + XY-cut ordering + TJ kern word breaks."""

    @staticmethod
    def _lay(ops):
        return minipdf.content_text_layout(b"\n".join(ops))

    def test_two_column_reading_order(self):
        ops = [b"BT", b"/F1 12 Tf"]
        for x, y, s in [(72, 700, b"L1"), (300, 700, b"R1"),
                        (72, 686, b"L2"), (300, 686, b"R2")]:
            ops += [b"1 0 0 1 %d %d Tm" % (x, y), b"(" + s + b") Tj"]
        ops.append(b"ET")
        assert self._lay(ops) == "L1\nL2\nR1\nR2"
        # stream order differs — that's the point
        assert minipdf.content_text(b"\n".join(ops)) == "L1\nR1\nL2\nR2"

    def test_out_of_order_and_td_relative_moves(self):
        # Td/TD/T* compose on the LINE matrix; TD sets leading
        ops = [b"BT", b"/F1 12 Tf",
               b"1 0 0 1 72 700 Tm", b"(one) Tj",
               b"0 -14 TD", b"(two) Tj",       # TD: leading := 14
               b"T*", b"(three) Tj",            # T*: same advance
               b"ET"]
        assert self._lay(ops) == "one\ntwo\nthree"
        # bottom-up stream comes out top-down
        ops2 = [b"BT", b"/F1 12 Tf",
                b"1 0 0 1 72 600 Tm", b"(bottom) Tj",
                b"1 0 0 1 72 700 Tm", b"(top) Tj", b"ET"]
        assert self._lay(ops2) == "top\nbottom"

    def test_tj_kern_vs_word_gap(self):
        ops = [b"BT", b"/F1 12 Tf", b"1 0 0 1 72 700 Td",
               b"[(Wo) -40 (rld) -260 (peace)] TJ", b"ET"]
        assert self._lay(ops) == "World peace"

    def test_quote_ops_advance_lines(self):
        ops = [b"BT", b"/F1 12 Tf", b"14 TL", b"1 0 0 1 72 700 Tm",
               b"(first) Tj",
               b"(second) '",
               b"2 0.2 (third) \"",
               b"ET"]
        assert self._lay(ops) == "first\nsecond\nthird"

    def test_cm_and_q_Q_transform_positions(self):
        # text placed via CTM translation; Q restores the origin
        ops = [b"BT", b"/F1 12 Tf", b"ET",
               b"q", b"1 0 0 1 0 -100 cm",
               b"BT", b"1 0 0 1 72 700 Tm", b"(shifted down) Tj", b"ET",
               b"Q",
               b"BT", b"1 0 0 1 72 650 Tm", b"(stays mid) Tj", b"ET"]
        # shifted lands at y=600 (<650), so 'stays mid' reads first
        assert self._lay(ops) == "stays mid\nshifted down"

    def test_spanning_title_before_columns(self):
        ops = [b"BT", b"/F1 14 Tf", b"1 0 0 1 72 745 Tm",
               b"(The Wide Spanning Title Of This Document Page) Tj",
               b"/F1 12 Tf"]
        for x, y, s in [(72, 700, b"L1"), (320, 700, b"R1"),
                        (72, 686, b"L2"), (320, 686, b"R2")]:
            ops += [b"1 0 0 1 %d %d Tm" % (x, y), b"(" + s + b") Tj"]
        ops.append(b"ET")
        assert self._lay(ops) == (
            "The Wide Spanning Title Of This Document Page\nL1\nL2\nR1\nR2"
        )

    def test_same_line_runs_join_with_gap_space(self):
        ops = [b"BT", b"/F1 12 Tf",
               b"1 0 0 1 72 700 Tm", b"(left) Tj",
               b"1 0 0 1 120 700 Tm", b"(right) Tj", b"ET"]
        out = self._lay(ops)
        assert out == "left right"

    def test_layout_equals_stream_on_simple_docs(self):
        for pages in (["alpha beta", "gamma"],
                      ["x\ny\nz"], ["one line"]):
            pdf = minipdf.build_pdf(pages, compress=True)
            assert minipdf.extract_page_texts(pdf) == \
                minipdf.extract_page_texts(pdf, layout=True)

    def test_malformed_operands_are_skipped(self):
        ops = [b"BT", b"/F1 12 Tf",
               b"(oops) 3 Tm",            # wrong arity: skipped
               b"1 0 0 1 72 700 Tm", b"(ok) Tj", b"ET"]
        assert self._lay(ops) == "ok"

    def test_cid_hex_strings_decode_in_layout(self):
        from pdf2dataset_spark.queries.tier_a import _cid_pdf
        pdf = _cid_pdf("Ünïcode vía CMap — ∑ligatures")
        assert minipdf.extract_page_texts(pdf, layout=True) == \
            ["Ünïcode vía CMap — ∑ligatures"]


class TestLayoutFuzz:
    """content_text_layout shares extraction's error contract: on
    mutated/truncated content streams it either succeeds or raises a
    ValueError-family error — never an unexpected exception, never a
    hang — and mutations must not desync it from content_text's
    contract (both run over every case)."""

    def test_mutated_content_streams(self):
        import random
        import struct
        import time

        rng = random.Random(606)
        base_ops = [
            b"BT", b"/F1 12 Tf", b"14 TL", b"1 0 0 1 72 700 Tm",
            b"(hello world) Tj", b"0 -14 Td",
            b"[(kerned) -250 (text) 40 (runs)] TJ",
            b"(quoted line) '", b"1.5 0.2 (double quoted) \"",
            b"ET", b"q", b"2 0 0 2 10 20 cm",
            b"0.5 g", b"5 5 20 10 re f",
            b"0 0 m 50 50 l S", b"/ImX Do", b"Q",
            b"BT", b"1 0 0 1 300 700 Tm", b"(second column) Tj", b"ET",
        ]
        base = b"\n".join(base_ops)
        for _ in range(120):
            b = bytearray(base)
            op = rng.randrange(3)
            if op == 0:
                for _ in range(rng.randrange(1, 6)):
                    b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            elif op == 1:
                b = b[: rng.randrange(1, len(b))]
            else:
                at = rng.randrange(len(b))
                b[at:at] = bytes(
                    rng.randrange(256) for _ in range(rng.randrange(1, 12))
                )
            data = bytes(b)
            for fn in (minipdf.content_text_layout, minipdf.content_text,
                       minipdf.content_draw_ops):
                t0 = time.monotonic()
                try:
                    fn(data)
                except (ValueError, IndexError, KeyError, struct.error,
                        OverflowError):
                    pass
                assert time.monotonic() - t0 < 10.0


class TestRotatedPageLayout:
    """Dominant-orientation detection (pdftotext -r parity): rotated
    pages read in their own frame, majority orientation wins."""

    @staticmethod
    def _lay(ops):
        return minipdf.content_text_layout(b"\n".join(ops))

    def test_90_ccw_rotated_page(self):
        # text direction (0,1) = up-page; the reading frame maps its
        # y-axis to device -x, so the FIRST line sits at SMALLER x
        ops = [b"BT", b"/F1 12 Tf",
               b"0 1 -1 0 486 100 Tm", b"(first line) Tj",
               b"0 1 -1 0 500 100 Tm", b"(second line) Tj",
               b"ET"]
        assert self._lay(ops) == "first line\nsecond line"

    def test_180_rotated_page(self):
        # upside-down: first reading line = smallest device y
        ops = [b"BT", b"/F1 12 Tf",
               b"-1 0 0 -1 540 100 Tm", b"(first line) Tj",
               b"-1 0 0 -1 540 114 Tm", b"(second line) Tj",
               b"ET"]
        assert self._lay(ops) == "first line\nsecond line"

    def test_270_rotated_page(self):
        # text direction (0,-1): reading y-axis maps to device +x —
        # first line at LARGER x
        ops = [b"BT", b"/F1 12 Tf",
               b"0 -1 1 0 126 700 Tm", b"(first line) Tj",
               b"0 -1 1 0 112 700 Tm", b"(second line) Tj",
               b"ET"]
        assert self._lay(ops) == "first line\nsecond line"

    def test_minority_watermark_does_not_flip_page(self):
        # one rotated watermark glyph among normal text: majority
        # (by glyph count) keeps the unrotated frame
        ops = [b"BT", b"/F1 12 Tf",
               b"1 0 0 1 72 700 Tm", b"(normal body text line one) Tj",
               b"1 0 0 1 72 686 Tm", b"(normal body text line two) Tj",
               b"0 1 -1 0 306 300 Tm", b"(DRAFT) Tj",
               b"ET"]
        out = self._lay(ops)
        assert out.startswith("normal body text line one\n"
                              "normal body text line two")
        assert "DRAFT" in out


class TestWordBoxes:
    """content_word_boxes (pdftotext -bbox shape): exact run-start
    positions, deterministic intra-run estimates, reading order."""

    def test_boxes_from_build_pdf(self):
        pdf = minipdf.build_pdf(["hello world\nsecond line"])
        (boxes,) = minipdf.extract_page_word_boxes(pdf)
        words = [b["word"] for b in boxes]
        assert words == ["hello", "world", "second", "line"]
        hello = boxes[0]
        assert (hello["x0"], hello["y0"]) == (72.0, 720.0)
        assert hello["x1"] == 72.0 + 0.5 * 12 * 5
        assert hello["y1"] == 732.0
        # second line sits one 14pt advance below
        assert boxes[2]["y0"] == 706.0

    def test_reading_order_across_columns(self):
        ops = [b"BT", b"/F1 12 Tf"]
        for x, y, s in [(72, 700, b"L1a L1b"), (300, 700, b"R1"),
                        (72, 686, b"L2"), (300, 686, b"R2")]:
            ops += [b"1 0 0 1 %d %d Tm" % (x, y), b"(" + s + b") Tj"]
        ops.append(b"ET")
        words = [b["word"] for b in
                 minipdf.content_word_boxes(b"\n".join(ops))]
        assert words == ["L1a", "L1b", "L2", "R1", "R2"]

    def test_empty_and_blank_runs_skipped(self):
        ops = [b"BT", b"/F1 12 Tf", b"1 0 0 1 72 700 Tm",
               b"() Tj", b"(   ) Tj", b"(word) Tj", b"ET"]
        boxes = minipdf.content_word_boxes(b"\n".join(ops))
        assert [b["word"] for b in boxes] == ["word"]


class TestWordBoxesRotated:
    """Round-6 second-review regression: word boxes share the
    reading-frame remap with content_text_layout, so rotated pages
    yield correctly ordered words with boxes in the reading frame."""

    def test_rotated_pages_agree_with_layout_order(self):
        for ops in (
            [b"BT", b"/F1 12 Tf",
             b"-1 0 0 -1 540 100 Tm", b"(first line) Tj",
             b"-1 0 0 -1 540 114 Tm", b"(second line) Tj", b"ET"],
            [b"BT", b"/F1 12 Tf",
             b"0 1 -1 0 486 100 Tm", b"(first line) Tj",
             b"0 1 -1 0 500 100 Tm", b"(second line) Tj", b"ET"],
        ):
            boxes = minipdf.content_word_boxes(b"\n".join(ops))
            assert [b["word"] for b in boxes] == [
                "first", "line", "second", "line",
            ]
            # same-baseline words are left-to-right in the frame
            assert boxes[0]["x1"] <= boxes[1]["x0"]
            assert boxes[0]["y0"] == boxes[1]["y0"]

    def test_any_whitespace_splits_words(self):
        ops = [b"BT", b"/F1 12 Tf", b"1 0 0 1 72 700 Tm",
               b"(al\xa0be\tce) Tj", b"ET"]
        words = [b["word"] for b in
                 minipdf.content_word_boxes(b"\n".join(ops))]
        assert words == ["al", "be", "ce"]


class TestParagraphs:
    """content_paragraphs: blank-line gaps and column jumps split;
    lines reflow with single spaces."""

    def test_gap_and_column_splits(self):
        ops = [b"BT", b"/F1 12 Tf"]
        for y, t in [(700, b"p1 a"), (686, b"p1 b"),
                     (658, b"p2 a"), (644, b"p2 b")]:
            ops += [b"1 0 0 1 72 %d Tm" % y, b"(" + t + b") Tj"]
        ops.append(b"ET")
        assert minipdf.content_paragraphs(b"\n".join(ops)) == [
            "p1 a p1 b", "p2 a p2 b",
        ]
        cols = [b"BT", b"/F1 12 Tf"]
        for x, y, t in [(72, 700, b"L1"), (300, 700, b"R1"),
                        (72, 686, b"L2"), (300, 686, b"R2")]:
            cols += [b"1 0 0 1 %d %d Tm" % (x, y), b"(" + t + b") Tj"]
        cols.append(b"ET")
        assert minipdf.content_paragraphs(b"\n".join(cols)) == [
            "L1 L2", "R1 R2",
        ]

    def test_uniform_leading_is_one_paragraph(self):
        pdf = minipdf.build_pdf(["one\ntwo\nthree"])
        doc = minipdf.PdfDocument(pdf)
        paras = minipdf.content_paragraphs(
            doc.page_content(doc.pages()[0])
        )
        assert paras == ["one two three"]

    def test_empty_page(self):
        assert minipdf.content_paragraphs(b"BT ET") == []


class TestPageAttributes:
    """Inheritable /Rotate + /MediaBox (ISO 32000-1 Table 30): the
    pages() walk materializes both from the nearest ancestor; layout,
    word boxes, paragraphs and the composite render honor /Rotate by
    mapping into the DISPLAYED frame before the orientation vote."""

    @staticmethod
    def _raw(objs: list[bytes]) -> bytes:
        buf = bytearray(b"%PDF-1.5\n")
        for i, body in enumerate(objs, start=1):
            buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
        buf += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
        return bytes(buf)

    @classmethod
    def _pdf(cls, content: bytes, page_extra: bytes = b"",
             pages_extra: bytes = b"") -> bytes:
        return cls._raw([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 " + pages_extra + b">>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            + page_extra + b">>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
        ])

    NORMAL = b"\n".join([
        b"BT", b"/F1 12 Tf",
        b"1 0 0 1 72 700 Tm", b"(line one) Tj",
        b"1 0 0 1 72 686 Tm", b"(line two) Tj", b"ET",
    ])
    # scanner convention: up-page text matrices + /Rotate 90 displays
    # upright (direction (0,1) rotates clockwise to (1,0))
    SCAN = b"\n".join([
        b"BT", b"/F1 12 Tf",
        b"0 1 -1 0 500 100 Tm", b"(scan second) Tj",
        b"0 1 -1 0 486 100 Tm", b"(scan first) Tj", b"ET",
    ])

    def test_media_box_inherited_from_pages_node(self):
        pdf = self._pdf(self.NORMAL, pages_extra=b"/MediaBox [0 0 400 300] ")
        doc = minipdf.PdfDocument(pdf)
        assert minipdf.page_media_box(doc, doc.pages()[0]) == (0, 0, 400, 300)

    def test_media_box_page_override_wins(self):
        pdf = self._pdf(
            self.NORMAL,
            page_extra=b"/MediaBox [0 0 200 100] ",
            pages_extra=b"/MediaBox [0 0 400 300] ",
        )
        doc = minipdf.PdfDocument(pdf)
        assert minipdf.page_media_box(doc, doc.pages()[0]) == (0, 0, 200, 100)

    def test_rotate_inherited_from_pages_node(self):
        pdf = self._pdf(self.NORMAL, pages_extra=b"/Rotate 90 ")
        doc = minipdf.PdfDocument(pdf)
        assert minipdf.page_rotation(doc, doc.pages()[0]) == 90

    def test_rotate_normalization(self):
        for raw, want in [(b"90", 90), (b"180", 180), (b"270", 270),
                          (b"360", 0), (b"-90", 270), (b"450", 90),
                          (b"45", 0)]:
            pdf = self._pdf(self.NORMAL, page_extra=b"/Rotate " + raw + b" ")
            doc = minipdf.PdfDocument(pdf)
            assert minipdf.page_rotation(doc, doc.pages()[0]) == want, raw

    def test_rotate_attr_with_normal_text_keeps_order(self):
        # poppler parity: the dominant-rotation normalization makes a
        # /Rotate page with uniform text read exactly like the
        # unrotated page
        for rot in (b"90", b"180", b"270"):
            pdf = self._pdf(
                self.NORMAL,
                page_extra=b"/Rotate " + rot + b" /MediaBox [0 0 612 792] ",
            )
            out = minipdf.extract_page_texts(pdf, layout=True)[0]
            assert out == "line one\nline two", rot

    def test_scanner_page_reads_upright_with_display_boxes(self):
        pdf = self._pdf(
            self.SCAN, page_extra=b"/Rotate 90 /MediaBox [0 0 612 792] "
        )
        assert (
            minipdf.extract_page_texts(pdf, layout=True)[0]
            == "scan first\nscan second"
        )
        boxes = minipdf.extract_page_word_boxes(pdf)[0]
        assert [b["word"] for b in boxes] == [
            "scan", "first", "scan", "second",
        ]
        # display frame: (u,v) -> (v, W-u); Tm (486,100) -> (100,126)
        first = boxes[0]
        assert (first["x0"], first["y0"]) == (100.0, 126.0)
        assert all(b["x0"] >= 0 and b["y0"] >= 0 for b in boxes)

    def test_rotate_zero_is_identity(self):
        out_plain = minipdf.content_text_layout(self.NORMAL)
        out_kw = minipdf.content_text_layout(
            self.NORMAL, rotate=0, media_box=(0, 0, 612, 792)
        )
        assert out_plain == out_kw == "line one\nline two"

    def test_composite_render_rotates_canvas(self):
        # a fill + text page under /Rotate 90 composes on a swapped-
        # dimension canvas with the rect mapped into the display frame
        content = self.NORMAL + b"\n0.5 g 100 640 200 30 re f"
        pdf = self._pdf(
            content, page_extra=b"/Rotate 90 /MediaBox [0 0 612 792] "
        )
        codec = PdfCodec()
        handle = codec.open(pdf)
        w, h, px = codec._composite_pixels(handle, 1)
        assert (w, h) == (792, 612)
        # fill rect (100,640)-(300,670) -> display x in [640,670],
        # y in [612-300, 612-100]; probe its center
        cx, cy = 655, 612 - 200
        row = h - 1 - cy  # canvas row 0 is the top
        assert px[row * w + cx] == 128  # 0.5 gray
        # unrotated twin keeps the original canvas
        pdf0 = self._pdf(content, page_extra=b"/MediaBox [0 0 612 792] ")
        h0 = codec.open(pdf0)
        w0, hh0, px0 = codec._composite_pixels(h0, 1)
        assert (w0, hh0) == (612, 792)


class TestDrawOpsCurvesAndClipping:
    """Round-7: Bézier flattening (deterministic 16 chords) and
    rectangular W/W* clipping in content_draw_ops; decline-by-name
    for non-rect / multi-rect / skew-CTM clip paths."""

    def test_cubic_flattens_to_16_chords(self):
        d = minipdf.content_draw_ops(b"0 0 m 55 0 100 45 100 100 c S")
        assert len(d["lines"]) == minipdf._BEZIER_CHORDS
        # chain is contiguous and ends at the curve endpoint
        assert (d["lines"][0][0], d["lines"][0][1]) == (0.0, 0.0)
        assert (d["lines"][-1][2], d["lines"][-1][3]) == (100.0, 100.0)
        for a, b in zip(d["lines"], d["lines"][1:]):
            assert (a[2], a[3]) == (b[0], b[1])

    def test_v_and_y_control_point_conventions(self):
        # v: first control point = current point; y: second = endpoint
        # (ISO 32000-1 Table 59) — each must equal its explicit c twin
        c_v = minipdf.content_draw_ops(b"0 0 m 0 0 100 45 100 100 c S")
        v = minipdf.content_draw_ops(b"0 0 m 100 45 100 100 v S")
        assert v["lines"] == c_v["lines"]
        c_y = minipdf.content_draw_ops(b"0 0 m 55 0 100 100 100 100 c S")
        y = minipdf.content_draw_ops(b"0 0 m 55 0 100 100 y S")
        assert y["lines"] == c_y["lines"]

    def test_clip_intersects_fills(self):
        d = minipdf.content_draw_ops(
            b"q 10 10 50 50 re W n 0 0 200 200 re f Q 0 0 5 5 re f"
        )
        assert d["fills"] == [
            (10.0, 10.0, 60.0, 60.0, 0),
            (0.0, 0.0, 5.0, 5.0, 0),  # clip restored by Q
        ]

    def test_clip_takes_effect_after_defining_path_paints(self):
        # ISO 32000-1 8.5.4: 'W f' paints the full path, THEN clips
        d = minipdf.content_draw_ops(
            b"10 10 50 50 re W f 0 0 200 200 re f"
        )
        assert d["fills"][0] == (10.0, 10.0, 60.0, 60.0, 0)
        assert d["fills"][1] == (10.0, 10.0, 60.0, 60.0, 0)

    def test_clip_liang_barsky_on_strokes(self):
        d = minipdf.content_draw_ops(b"20 20 40 40 re W n 0 0 m 100 100 l S")
        assert d["lines"] == [(20.0, 20.0, 60.0, 60.0, 0)]
        # fully-outside segment vanishes
        d = minipdf.content_draw_ops(b"20 20 40 40 re W n 0 0 m 5 0 l S")
        assert d["lines"] == []

    def test_fill_outside_clip_dropped(self):
        d = minipdf.content_draw_ops(b"300 300 10 10 re W n 0 0 100 100 re f")
        assert d["fills"] == []

    def test_nested_clips_intersect(self):
        d = minipdf.content_draw_ops(
            b"0 0 100 100 re W n 50 50 100 100 re W n 0 0 200 200 re f"
        )
        assert d["fills"] == [(50.0, 50.0, 100.0, 100.0, 0)]

    def test_general_clips_become_stencils(self):
        # round-8: non-rect/multi-rect/rotated-CTM clips are honored
        # as polygon STENCIL groups (bbox shrinks the rect clip,
        # emitted items carry the chain for exact per-pixel gating)
        # skew CTM: transformed rect is not axis-aligned -> stencil;
        # Q restores, so the later fill is unaffected
        d = minipdf.content_draw_ops(
            b"q 1 0.5 0 1 0 0 cm 10 10 20 20 re W n Q 0 0 9 9 re f"
        )
        assert d["fills"] == [(0.0, 0.0, 9.0, 9.0, 0)]
        assert d["stencils"] == {}
        # multi-rect clip path: fill clipped to the union's BBOX and
        # stenciled by the two rect polygons
        d = minipdf.content_draw_ops(
            b"0 0 10 10 re 50 50 10 10 re W n 0 0 100 100 re f"
        )
        assert d["fills"] == [(0.0, 0.0, 60.0, 60.0, 0)]
        [chain] = [d["stencils"][("fills", 0)]]
        assert len(chain) == 1 and len(chain[0]) == 2
        assert chain[0][0] == ((0.0, 0.0), (10.0, 0.0),
                               (10.0, 10.0), (0.0, 10.0))
        # curved clip path: the flattened subpath becomes the group
        d = minipdf.content_draw_ops(
            b"0 0 m 10 20 30 20 40 0 c W n 0 0 100 100 re f"
        )
        [(x0, y0, x1, y1, g)] = d["fills"]
        assert (x0, y0, x1, g) == (0.0, 0.0, 40.0, 0)
        assert 10.0 <= y1 <= 20.0  # Bézier bbox height
        chain = d["stencils"][("fills", 0)]
        assert len(chain) == 1 and len(chain[0][0]) >= 4

    def test_declined_clips_leave_state_unchanged(self):
        # past the stencil budget: > 64 subpaths in one clip path
        parts = b" ".join(
            b"%d 0 10 10 re" % (20 * i) for i in range(70)
        )
        d = minipdf.content_draw_ops(
            parts + b" W n 0 0 100 100 re f"
        )
        assert d["fills"] == [(0.0, 0.0, 100.0, 100.0, 0)]
        assert d["stencils"] == {}

    def test_rotated_ctm_rect_clip_still_clips(self):
        # a 90-degree CTM maps rects to axis-aligned rects: the clip
        # holds (fill stays inside the q scope; Q would restore it)
        d = minipdf.content_draw_ops(
            b"0 1 -1 0 0 0 cm 10 10 20 20 re W n -100 0 200 200 re f"
        )
        # user clip (10,10)-(30,30) -> device (-30,10)-(-10,30);
        # user fill (-100,0)-(100,200) -> device (-200,-100)-(0,100)
        assert d["fills"] == [(-30.0, 10.0, -10.0, 30.0, 0)]


class TestRotateAnchoring:
    """Round-7 review regression: the orientation vote's remap is
    ANCHORED to the page frame. A /Rotate page whose text is upright
    in USER space (displays sideways) must keep its original in-page
    coordinates — display rotation composed with the anchored vote is
    the identity (the pre-/Rotate behavior, and poppler's)."""

    def _pdf(self, content, page_extra=b""):
        return TestPageAttributes._pdf(content, page_extra=page_extra)

    UP = b"\n".join([
        b"BT", b"/F1 12 Tf",
        b"1 0 0 1 72 700 Tm", b"(hello world) Tj", b"ET",
    ])

    def test_rotate_with_upright_text_keeps_inpage_boxes(self):
        for rot in (b"90", b"180", b"270"):
            pdf = self._pdf(
                self.UP,
                page_extra=b"/Rotate " + rot + b" /MediaBox [0 0 612 792] ",
            )
            boxes = minipdf.extract_page_word_boxes(pdf)[0]
            assert [(b["word"], b["x0"], b["y0"]) for b in boxes] == [
                ("hello", 72.0, 700.0), ("world", 108.0, 700.0),
            ], rot
            assert all(0 <= b["x0"] <= 612 and 0 <= b["y0"] <= 792
                       for b in boxes), rot

    def test_content_rotated_page_boxes_are_anchored_positive(self):
        # no /Rotate, text rotated in-plane: the vote alone must also
        # land positive page-frame coordinates (previously negative)
        ops = [b"BT", b"/F1 12 Tf",
               b"0 1 -1 0 500 100 Tm", b"(rotated second) Tj",
               b"0 1 -1 0 486 100 Tm", b"(rotated first) Tj", b"ET"]
        boxes = minipdf.content_word_boxes(b"\n".join(ops))
        assert [b["word"] for b in boxes] == [
            "rotated", "first", "rotated", "second",
        ]
        assert all(b["x0"] >= 0 and b["y0"] >= 0 for b in boxes)

    def test_nonzero_origin_media_box_anchors_consistently(self):
        # rotate=0 with an offset MediaBox normalizes to the box
        # origin, same anchor the rotated paths use
        pdf = self._pdf(self.UP, page_extra=b"/MediaBox [20 20 632 812] ")
        boxes = minipdf.extract_page_word_boxes(pdf)[0]
        assert (boxes[0]["x0"], boxes[0]["y0"]) == (52.0, 680.0)

    def test_fractional_rotate_degrades_to_zero(self):
        pdf = self._pdf(self.UP, page_extra=b"/Rotate 90.5 ")
        doc = minipdf.PdfDocument(pdf)
        assert minipdf.page_rotation(doc, doc.pages()[0]) == 0


class TestPolygonFills:
    """Round-7: non-rect subpaths fill as even-odd scanline polygons
    (triangles, flattened-curve blobs); vertex-budget and clip
    interactions stay deterministic."""

    def test_triangle_fill_emits_polygon(self):
        d = minipdf.content_draw_ops(b"0.5 g 10 10 m 50 10 l 30 50 l h f")
        assert len(d["polys"]) == 1
        pts, g = d["polys"][0]
        assert g == 128 and len(pts) == 4  # h closes back to start

    def test_curve_blob_fill_is_flattened_polygon(self):
        d = minipdf.content_draw_ops(b"0 g 10 30 m 30 60 50 60 70 30 c f")
        (pts, g), = d["polys"]
        assert len(pts) == 1 + minipdf._BEZIER_CHORDS

    def test_scanline_rasterization(self):
        from pdf2dataset_spark.sources.raster import compose_page

        d = minipdf.content_draw_ops(b"0.5 g 10 10 m 50 10 l 30 50 l h f")
        w, h, px = compose_page(60, 60, polys=d["polys"])

        def at(x, y):
            return px[(h - 1 - y) * w + x]

        assert at(30, 23) == 128          # inside
        assert at(5, 5) == 255            # outside
        assert at(55, 55) == 255
        # even-odd: a self-crossing bowtie (lobes left/right, crossing
        # at (30,30)) leaves the top/bottom middle triangles EMPTY
        bow = minipdf.content_draw_ops(
            b"0 g 10 10 m 50 50 l 50 10 l 10 50 l h f"
        )
        w, h, px = compose_page(60, 60, polys=bow["polys"])
        assert at(30, 45) == 255          # top middle triangle empty
        assert at(30, 15) == 255          # bottom middle triangle empty
        assert at(15, 30) == 0            # left lobe filled
        assert at(45, 30) == 0            # right lobe filled

    def test_polygon_clip_intersection(self):
        d = minipdf.content_draw_ops(
            b"20 0 30 100 re W n 0 g 10 10 m 50 10 l 30 50 l h f"
        )
        (pts, _), = d["polys"]
        assert all(20.0 <= x <= 50.0 for x, _ in pts), pts
        # fully-outside polygon vanishes
        d = minipdf.content_draw_ops(
            b"200 200 10 10 re W n 0 g 10 10 m 50 10 l 30 50 l h f"
        )
        assert d["polys"] == []

    def test_vertex_budget_declines_fill_keeps_stroke(self):
        # a path past _MAX_POLY_VERTICES strokes (b = fill+stroke)
        # but declines to fill
        ops = bytearray(b"0 g 0 0 m ")
        for i in range(minipdf._MAX_POLY_VERTICES + 8):
            ops += b"%d %d l " % (i % 100, (i * 7) % 100)
        ops += b"b"
        d = minipdf.content_draw_ops(bytes(ops))
        assert d["polys"] == []
        assert len(d["lines"]) > minipdf._MAX_POLY_VERTICES

    def test_rect_only_paths_emit_no_polygons(self):
        d = minipdf.content_draw_ops(b"0 g 10 10 50 50 re f")
        assert d["polys"] == [] and len(d["fills"]) == 1


class TestLineWidth:
    """Round-7: w (line width, CTM-scaled) strokes wider than 1.5
    device units paint as quad polygons; graphics state (colors,
    width, clip, CTM) save/restores with q/Q."""

    def test_thick_stroke_is_quad_band(self):
        from pdf2dataset_spark.sources.raster import compose_page

        d = minipdf.content_draw_ops(b"8 w 0 G 10 30 m 90 30 l S")
        assert len(d["polys"]) == 1 and d["lines"] == []
        w, h, px = compose_page(100, 60, polys=d["polys"])

        def at(x, y):
            return px[(h - 1 - y) * w + x]

        assert at(50, 30) == 0 and at(50, 33) == 0  # inside the band
        assert at(50, 36) == 255 and at(50, 24) == 255  # outside

    def test_width_scales_with_ctm(self):
        # 4-unit width under a 2x CTM = 8 device units -> quad
        d = minipdf.content_draw_ops(b"q 2 0 0 2 0 0 cm 4 w 5 15 m 45 15 l S Q")
        assert len(d["polys"]) == 1
        # 1-unit width under 1x stays a Bresenham line
        d = minipdf.content_draw_ops(b"1 w 10 30 m 90 30 l S")
        assert d["polys"] == [] and len(d["lines"]) == 1

    def test_q_restores_width_and_colors(self):
        d = minipdf.content_draw_ops(b"q 8 w 0.5 G Q 10 30 m 90 30 l S")
        assert d["polys"] == []
        assert d["lines"] == [(10.0, 30.0, 90.0, 30.0, 0)]  # black, thin

    def test_thick_stroke_respects_clip(self):
        d = minipdf.content_draw_ops(
            b"30 0 40 60 re W n 8 w 0 G 10 30 m 90 30 l S"
        )
        (quad, _), = d["polys"]
        assert all(30.0 <= x <= 70.0 for x, _ in quad), quad


class TestDashPatterns:
    """Round-8: the ``d`` operator dashes strokes (ISO 32000-1
    8.4.3.6). Expected ON runs are hand-derived from the pattern
    arithmetic, never from the splitter itself."""

    def test_dash_runs_arithmetic(self):
        # [10 10] over length 50: ON [0,10) [20,30) [40,50)
        runs, off = minipdf._dash_runs(50, [10, 10], 0)
        assert runs == [(0, 10), (20, 30), (40, 50)]
        assert off == 50
        # phase 5 consumes half the first ON element
        runs, _ = minipdf._dash_runs(50, [10, 10], 5)
        assert runs == [(0, 5), (15, 25), (35, 45)]
        # odd array [6]: on 6 / off 6, alternating ACROSS cycles
        runs, _ = minipdf._dash_runs(24, [6], 0)
        assert runs == [(0, 6), (12, 18)]
        # review fix: odd-array parity survives the offset fold — at
        # offset 6 the next 6 units are OFF, then ON
        runs, _ = minipdf._dash_runs(12, [6], 6)
        assert runs == [(6, 12)]
        # chained segments of an odd-dash polyline keep alternating
        d = minipdf.content_draw_ops(
            b"[6] 0 d 0 G 100 50 m 106 50 l 112 50 l S"
        )
        assert [(ln[0], ln[2]) for ln in d["lines"]] == [(100.0, 106.0)]
        # offset carries across chained segments: second segment of a
        # chain starts where the first ended in the cycle
        _, off = minipdf._dash_runs(15, [10, 10], 0)
        runs, _ = minipdf._dash_runs(10, [10, 10], off)
        assert runs == [(5, 10)]  # 5 more OFF, then ON

    def test_dashed_line_paints_gaps(self):
        d = minipdf.content_draw_ops(
            b"[20 20] 0 d 0 G 100 50 m 200 50 l S"
        )
        # ON runs: x [100,120) [140,160) [180,200)
        assert len(d["lines"]) == 3
        xs = sorted((ln[0], ln[2]) for ln in d["lines"])
        assert xs == [(100.0, 120.0), (140.0, 160.0), (180.0, 200.0)]

    def test_phase_and_ctm_scaling(self):
        # phase 5 and a 2x CTM: device pattern [20 20], phase 10
        d = minipdf.content_draw_ops(
            b"q 2 0 0 2 0 0 cm 0.5 w [10 10] 5 d 0 G 50 25 m 100 25 l S Q"
        )
        # device: seg x 100..200, pattern [20 20] phase 10:
        # ON [0,10) [30,50) [70,90) -> x [100,110) [130,150) [170,190)
        xs = sorted((ln[0], ln[2]) for ln in d["lines"])
        assert xs == [(100.0, 110.0), (130.0, 150.0), (170.0, 190.0)]

    def test_thick_dashed_stroke_quads(self):
        d = minipdf.content_draw_ops(
            b"[30 30] 0 d 8 w 0 G 100 50 m 220 50 l S"
        )
        assert d["lines"] == [] and len(d["polys"]) == 2

    def test_rect_dash_continues_around_corners(self):
        # rect perimeter walks bottom(40) right(20) top(40) left(20)
        # chained; [30 30] 0: ON distance arcs [0,30) [60,90) ->
        # bottom gets [0,30), right (40..60) all OFF, top gets
        # [60,90) = its first 30, left (100..120) all OFF
        d = minipdf.content_draw_ops(
            b"[30 30] 0 d 0 G 100 100 40 20 re S"
        )
        assert len(d["lines"]) == 2

    def test_q_restores_dash_and_empty_array_resets(self):
        d = minipdf.content_draw_ops(
            b"q [10 10] 0 d Q 0 G 100 50 m 200 50 l S"
        )
        assert len(d["lines"]) == 1  # dash did not leak out of q/Q
        d = minipdf.content_draw_ops(
            b"[10 10] 0 d [] 0 d 0 G 100 50 m 200 50 l S"
        )
        assert len(d["lines"]) == 1  # [] resets to solid

    def test_subpixel_pattern_strokes_solid(self):
        d = minipdf.content_draw_ops(
            b"[0.1 0.1] 0 d 0 G 100 50 m 200 50 l S"
        )
        assert d["lines"] == [(100.0, 50.0, 200.0, 50.0, 0)]


class TestExtGState:
    """Round-8: the ``gs`` operator applies /LW and /D from the
    page's /ExtGState resources (how real generators set width/dash);
    alpha, blend modes, soft masks and /Font decline by name."""

    def test_gs_sets_width_and_dash(self):
        egs = {"/G1": {"LW": 8.0, "D": ([30.0, 30.0], 0.0)}}
        d = minipdf.content_draw_ops(
            b"/G1 gs 0 G 100 50 m 220 50 l S", ext_gstates=egs
        )
        # 8-wide dashed: two ON runs as quads
        assert d["lines"] == [] and len(d["polys"]) == 2

    def test_gs_solid_reset_and_unknown_name(self):
        egs = {"/G1": {"D": None}}
        d = minipdf.content_draw_ops(
            b"[10 10] 0 d /G1 gs 0 G 100 50 m 200 50 l S", ext_gstates=egs
        )
        assert len(d["lines"]) == 1  # /D [] reset to solid
        d = minipdf.content_draw_ops(
            b"/Nope gs 0 G 100 50 m 200 50 l S", ext_gstates=egs
        )
        assert len(d["lines"]) == 1  # unknown name: state unchanged

    def test_gs_state_restores_with_q(self):
        egs = {"/G1": {"LW": 8.0}}
        d = minipdf.content_draw_ops(
            b"q /G1 gs Q 0 G 100 50 m 200 50 l S", ext_gstates=egs
        )
        assert len(d["lines"]) == 1 and d["polys"] == []

    def test_page_ext_gstates_resolution(self):
        from pdf2dataset_spark.queries.tier_a import _content_pdf

        pdf = _content_pdf(
            b"/G1 gs 0 G 100 50 m 220 50 l S",
            page_extra=(
                b"/MediaBox [0 0 612 792] /Resources << /ExtGState << "
                b"/G1 << /LW 8 /D [[30 30] 0] /CA 0.5 >> "
                b"/Bad (notadict) >> >>"
            ),
        )
        doc = minipdf.PdfDocument(pdf)
        pg = doc.pages()[0]
        egs = doc.page_ext_gstates(pg)
        assert egs == {"/G1": {"LW": 8.0, "D": ([30.0, 30.0], 0.0),
                               "CA": 0.5}}
        # end-to-end: the codec threads it into the composite render
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        assert out is not None
        w, hh, px = out

        def at(x, y):
            return px[(hh - 1 - y) * w + x]

        # /CA 0.5 now blends the dashed stroke: 0.5*0+0.5*255 -> 128
        assert at(110, 50) == 128  # first ON dash, 8 wide, blended
        assert at(110, 52) == 128
        assert at(140, 50) == 255  # OFF gap


class TestShadingPatternFills:
    """Round-8: /Pattern cs + scn + rect fill paints the pattern's
    SHADING clipped to the fill region (how real generators emit
    gradient fills). Tiling patterns and non-rect regions decline."""

    def test_capture_reset_and_restore(self):
        ops = b"/Pattern cs /P0 scn 100 100 200 100 re f"
        d = minipdf.content_draw_ops(ops)
        assert d["pattern_fills"] == [("/P0", (100.0, 100.0, 300.0, 200.0), 0)]
        assert d["fills"] == []  # no gray fill for the pattern paint
        # g drops the pattern colorspace
        d = minipdf.content_draw_ops(
            b"/Pattern cs /P0 scn 0.5 g 100 100 200 100 re f"
        )
        assert d["pattern_fills"] == [] and len(d["fills"]) == 1
        # q/Q restores the pattern state
        d = minipdf.content_draw_ops(
            b"q /Pattern cs /P0 scn Q 100 100 200 100 re f"
        )
        assert d["pattern_fills"] == [] and len(d["fills"]) == 1

    def test_nonrect_pattern_region_emits_stencil(self):
        # round-9: a polygon region pattern-fills via its bbox plus
        # a region stencil (was a decline through round 8)
        d = minipdf.content_draw_ops(
            b"/Pattern cs /P0 scn 100 100 m 300 100 l 200 250 l h f"
        )
        assert d["pattern_fills"] == [
            ("/P0", (100.0, 100.0, 300.0, 250.0), 0)
        ]
        assert ("pattern_fills", 0) in d["stencils"]
        assert d["polys"] == []

    def test_clip_intersects_pattern_rect(self):
        d = minipdf.content_draw_ops(
            b"150 0 100 792 re W n /Pattern cs /P0 scn "
            b"100 100 200 100 re f"
        )
        assert d["pattern_fills"] == [("/P0", (150.0, 100.0, 250.0, 200.0), 0)]

    def test_axial_pattern_fill_end_to_end(self):
        from pdf2dataset_spark.queries.tier_a import _content_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        pdf = _content_pdf(
            b"BT /F1 12 Tf 72 700 Td (pattern fill page) Tj ET\n"
            b"/Pattern cs /P0 scn 100 100 200 100 re f",
            page_extra=(
                b"/MediaBox [0 0 612 792] /Resources << /Pattern << /P0 << "
                b"/PatternType 2 /Matrix [1 0 0 1 0 0] /Shading << "
                b"/ShadingType 2 /Coords [100 0 300 0] "
                b"/Function << /FunctionType 2 /C0 [0.0] /C1 [1.0] /N 1 >> "
                b"/Extend [true true] >> >> >> >>"
            ),
        )
        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        assert out is not None
        w, hh, px = out

        def at(x, y):
            return px[(hh - 1 - y) * w + x]

        # hand-derived: s = (x+0.5-100)/200 -> gray 255*s
        assert at(150, 150) == round(255 * 50.5 / 200)  # 64
        assert at(250, 150) == round(255 * 150.5 / 200)  # 192
        assert at(50, 150) == 255   # outside the fill rect
        assert at(150, 250) == 255  # above it

    def test_streamless_tiling_pattern_declines(self):
        # a tiling pattern authored as a bare dict (no cell stream)
        # cannot paint — declined, the rest of the page intact
        from pdf2dataset_spark.queries.tier_a import _content_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        pdf = _content_pdf(
            b"0 g 400 400 50 50 re f\n"
            b"/Pattern cs /P0 scn 100 100 200 100 re f",
            page_extra=(
                b"/MediaBox [0 0 612 792] /Resources << /Pattern << /P0 << "
                b"/PatternType 1 /PaintType 1 /TilingType 1 "
                b"/BBox [0 0 10 10] /XStep 10 /YStep 10 >> >> >>"
            ),
        )
        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        assert out is not None
        w, hh, px = out

        def at(x, y):
            return px[(hh - 1 - y) * w + x]

        assert at(150, 150) == 255  # no cell content: unpainted
        assert at(420, 420) == 0    # plain fill untouched


class TestRound8Fuzz:
    """Adversarial input shapes for the round-8 parsers: random dash/
    gs/pattern operator soup and random mesh vertex streams must
    never raise out of the walkers, and every emitted geometry stays
    finite."""

    def test_draw_ops_operator_soup(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        tokens = st.sampled_from([
            b"[6] 0 d", b"[3 2] 1 d", b"[] 0 d", b"[0 0] 5 d",
            b"[-1 2] 0 d", b"[0.1] 9999 d", b"/G1 gs", b"/Nope gs",
            b"/Pattern cs", b"/DeviceRGB cs", b"/P0 scn", b"0.5 scn",
            b"q", b"Q", b"2 0 0 2 0 0 cm", b"0 0 0 0 0 0 cm",
            b"10 10 50 50 re", b"m", b"10 20 m", b"30 40 l", b"h",
            b"f", b"S", b"B", b"n", b"W", b"/Sh0 sh", b"8 w",
            b"0.5 g", b"1 0 0 RG", b"d", b"gs", b"scn", b"cs",
        ])

        @given(st.lists(tokens, min_size=0, max_size=40))
        @settings(max_examples=150, deadline=None)
        def run(ops):
            egs = {"/G1": {"LW": 8.0, "D": ([6.0], 0.0)}}
            d = minipdf.content_draw_ops(
                b" ".join(ops), ext_gstates=egs
            )
            for x0, y0, x1, y1, g in d["lines"]:
                assert all(abs(v) < 1e9 for v in (x0, y0, x1, y1))
            for kind, idx in d["order"]:
                assert 0 <= idx < len(d[kind])

        run()

    def test_mesh_stream_fuzz_never_raises(self):
        import random

        from pdf2dataset_spark.sources.codecs import PdfCodec
        from pdf2dataset_spark.sources.minipdf import StreamObj

        class _Doc:
            def resolve(self, v):
                return v

            def stream_bytes(self, o):
                return o.raw

        rng = random.Random(8)
        codec = PdfCodec()
        doc = _Doc()
        for _ in range(200):
            data = bytes(rng.randrange(256)
                         for _ in range(rng.randrange(0, 120)))
            sd = {
                "/ShadingType": rng.choice([4, 5, 6, 0, 99]),
                "/BitsPerCoordinate": rng.choice([8, 16, 24, 7, 0]),
                "/BitsPerComponent": rng.choice([8, 16, 3]),
                "/BitsPerFlag": rng.choice([2, 4, 8, 16]),
                "/VerticesPerRow": rng.choice([0, 1, 2, 5, -3]),
                "/Decode": rng.choice([
                    [0, 65535, 0, 65535, 0, 1.0],
                    [0, 0, 0, 0, 0, 0],
                    [],
                    [0, 65535],
                ]),
            }
            sh = StreamObj(sd, data)
            out = codec._mesh_patch(
                doc, sh, (1, 0, 0, 1, 0, 0), None, (0, 0, 200, 200))
            if out is not None:
                pw, ph, ppx, _, pmask = out
                assert len(ppx) == pw * ph and len(pmask) == pw * ph


class TestStreamOrderPainting:
    """Round-8: the draw-op journal paints geometry in exact
    content-stream z-order — closing the former decline where
    shadings always rendered below fills."""

    def _at(self, pdf):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        assert out is not None
        w, hh, px = out
        return lambda x, y: px[(hh - 1 - y) * w + x]

    SHADING = (b"/Resources << /Shading << /Sh0 << "
               b"/ShadingType 2 /Coords [100 0 300 0] "
               b"/Function << /FunctionType 2 /C0 [0.2] /C1 [0.2] /N 1 >> "
               b"/Extend [true true] >> >> >>")

    def test_shading_after_fill_paints_over_it(self):
        from pdf2dataset_spark.queries.tier_a import _content_pdf

        # the previously-impossible order: fill FIRST, shading SECOND
        pdf = _content_pdf(
            b"0 g 120 120 100 60 re f\n"
            b"q 100 100 200 100 re W n /Sh0 sh Q",
            page_extra=b"/MediaBox [0 0 612 792] " + self.SHADING,
        )
        at = self._at(pdf)
        assert at(150, 150) == 51  # constant 0.2 gray shading on top

    def test_fill_after_shading_still_wins(self):
        from pdf2dataset_spark.queries.tier_a import _content_pdf

        pdf = _content_pdf(
            b"q 100 100 200 100 re W n /Sh0 sh Q\n"
            b"0 g 120 120 100 60 re f",
            page_extra=b"/MediaBox [0 0 612 792] " + self.SHADING,
        )
        at = self._at(pdf)
        assert at(150, 150) == 0    # fill on top
        assert at(110, 110) == 51   # shading elsewhere

    def test_draw_ops_journal_sequence(self):
        d = minipdf.content_draw_ops(
            b"0 g 10 10 20 20 re f 0 G 5 5 m 50 5 l S /Sh0 sh "
            b"0.5 g 30 30 5 5 re f"
        )
        assert d["order"] == [
            ("fills", 0), ("lines", 0), ("shadings", 0), ("fills", 1),
        ]

    def test_compose_order_last_wins(self):
        from pdf2dataset_spark.sources.raster import compose_page

        fills = [(10, 10, 30, 30, 0), (10, 10, 30, 30, 200)]
        w, h, px = compose_page(
            40, 40, fills=fills, order=[("fills", 1), ("fills", 0)]
        )
        assert px[(h - 1 - 20) * w + 20] == 0  # index 0 painted LAST


class TestConstantAlpha:
    """Round-8: ExtGState /ca and /CA (constant alpha) blend fills,
    strokes, images and shadings Normal over the backdrop — the
    watermark idiom. Expected values hand-derived from
    result = a*src + (1-a)*backdrop."""

    def _at(self, content, extra=b""):
        from pdf2dataset_spark.queries.tier_a import _content_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        pdf = _content_pdf(
            content,
            page_extra=(
                b"/MediaBox [0 0 612 792] /Resources << /ExtGState << "
                b"/Ghalf << /ca 0.5 /CA 0.25 >> >> " + extra + b">>"
            ),
        )
        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        assert out is not None
        w, hh, px = out
        return lambda x, y: px[(hh - 1 - y) * w + x]

    def test_fill_alpha_over_white_and_over_fill(self):
        # gs state persists until Q — scope each alpha paint
        at = self._at(
            b"q /Ghalf gs 0 g 100 100 100 50 re f Q\n"
            b"0 g 300 100 100 50 re f\n"
            b"q /Ghalf gs 0.75 g 300 100 100 50 re f Q"
        )
        # 0.5*0 + 0.5*255 = 127.5 -> 128 (half-up)
        assert at(150, 120) == 128
        # second: backdrop 0 (opaque black), src 191 (0.75 g):
        # 0.5*191 + 0.5*0 = 95.5 -> 96
        assert at(350, 120) == 96

    def test_stroke_alpha_independent(self):
        at = self._at(b"/Ghalf gs 0 G 100 300 m 200 300 l S")
        # CA 0.25: 0.25*0 + 0.75*255 = 191.25 -> 191; Bresenham rows
        # round at dev() (y=300 lands one row below the probe row)
        assert at(150, 299) == 191

    def test_alpha_restores_with_q(self):
        at = self._at(
            b"q /Ghalf gs Q 0 g 100 100 100 50 re f"
        )
        assert at(150, 120) == 0  # opaque after Q

    def test_shading_alpha(self):
        at = self._at(
            b"/Ghalf gs q 100 400 100 50 re W n /Sh0 sh Q",
            extra=(b"/Shading << /Sh0 << /ShadingType 2 "
                   b"/Coords [0 400 0 450] /Function "
                   b"<< /FunctionType 2 /C0 [0.0] /C1 [0.0] /N 1 >> "
                   b"/Extend [true true] >> >> "),
        )
        # constant-black shading at ca 0.5 over white -> 128
        assert at(150, 420) == 128


class TestTilingPatterns:
    """Round-8: colored tiling patterns (PatternType 1) — the cell
    content rasterizes once and the fill rect samples it by
    pattern-space modulo; unpainted cell area and XStep/YStep gaps
    stay transparent."""

    CELL = b"0 g 0 0 5 5 re f 5 5 5 5 re f"  # checkerboard quadrants

    def _pdf(self, xstep=10, ystep=10, matrix=b"[1 0 0 1 0 0]",
             paint_type=1, cell=None):
        from pdf2dataset_spark.queries.tier_a import _raw_pdf

        cell = self.CELL if cell is None else cell
        content = (b"BT /F1 12 Tf 72 700 Td (tile page) Tj ET\n"
                   b"/Pattern cs /P0 scn 100 100 100 80 re f")
        return _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /Pattern << "
            b"/P0 5 0 R >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            b"<< /PatternType 1 /PaintType " + str(paint_type).encode()
            + b" /TilingType 1 /BBox [0 0 10 10] /XStep "
            + str(xstep).encode() + b" /YStep " + str(ystep).encode()
            + b" /Matrix " + matrix + b" /Length "
            + str(len(cell)).encode() + b" >>\nstream\n"
            + cell + b"\nendstream",
        ])

    @staticmethod
    def _at(pdf):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        if out is None:
            # whole paint declined -> text-only page, grid raster
            # route: everything reads as unpainted
            return lambda x, y: 255
        w, hh, px = out
        return lambda x, y: px[(hh - 1 - y) * w + x]

    def test_checkerboard_tiles(self):
        at = self._at(self._pdf())
        # pattern space == device space: 10-unit cells, dark 5x5
        # squares at the lower-left and upper-right quadrants
        assert at(102, 102) == 0    # lower-left quadrant painted
        assert at(107, 107) == 0    # upper-right quadrant painted
        assert at(107, 102) == 255  # empty quadrant transparent
        assert at(102, 107) == 255
        assert at(142, 142) == 0    # fourth tile over, same phase
        assert at(202, 102) == 255  # outside the fill rect
        assert at(102, 185) == 255  # above it

    def test_step_gaps_stay_transparent(self):
        at = self._at(self._pdf(xstep=20))
        assert at(102, 102) == 0
        assert at(112, 102) == 255  # gap between tiles
        assert at(122, 102) == 0    # next tile at 20

    def test_matrix_translation_shifts_phase(self):
        at = self._at(self._pdf(matrix=b"[1 0 0 1 3 0]"))
        # phase shifted +3 in x: painted quadrant now at [103,108)
        assert at(102, 102) == 255
        assert at(105, 102) == 0

    def test_uncolored_now_paints_in_scn_black(self):
        # PaintType 2 (round-8): the cell geometry paints in the scn
        # color — the default scn here carries no numerics → black
        at = self._at(self._pdf(paint_type=2))
        assert at(102, 102) == 0

    def test_rotated_matrix_samples_through_inverse(self):
        # round-8: a 90-degree /Matrix is honored — the device grid
        # maps to pattern space through the full matrix inverse, so
        # the painted cell quadrant appears rotated, not declined
        at = self._at(self._pdf(matrix=b"[0 1 -1 0 0 0]"))
        painted = sum(
            1 for y in range(100, 140) for x in range(100, 140)
            if at(x, y) == 0
        )
        assert painted > 0

    def test_overlap_composites_integer_and_fractional(self):
        # round-9: integer-step overlap COMPOSITES (the 5-step
        # checkerboard unions to full black coverage)...
        at = self._at(self._pdf(xstep=5))
        assert at(102, 102) == 0
        assert at(104, 107) == 0
        # ...and a HALF-step overlap supersamples (q=2): the
        # bottom-left square covers u mod 5.5 in [0, 5) on the
        # bottom band, leaving a half-unit gap at [5, 5.5)
        at = self._at(self._pdf(xstep=5.5))
        # pixel CENTERS sample: (102.5 - 100 anchor-free) mod 5.5
        assert at(102, 102) == 0    # center 102.5 mod 5.5 = 3.5
        assert at(109, 102) == 255  # center 109.5 mod 5.5 = 5.0: gap


class TestFormXObjectText:
    """Round-7: text inside /Form XObjects (letterheads, stamps, OCR
    layers) extracts through Do — /Matrix composes into the CTM, the
    form's own fonts merge over the page's, graphics/text state
    restores after the invocation, and cycles/depth are guarded."""

    @staticmethod
    def _raw(objs):
        out = bytearray(b"%PDF-1.5\n")
        for i, b in enumerate(objs, 1):
            out += b"%d 0 obj\n" % i + b + b"\nendobj\n"
        out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
        return bytes(out)

    @classmethod
    def _form(cls, num, content, extra=b""):
        return (b"<< /Type /XObject /Subtype /Form /BBox [0 0 200 30] "
                + extra + b"/Length " + str(len(content)).encode()
                + b" >>\nstream\n" + content + b"\nendstream")

    def _doc(self, page_content, xobjs, objs):
        names = b" ".join(b"/Fo%d %d 0 R" % (i, n) for i, n in xobjs)
        return self._raw([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /XObject << "
            + names + b" >> >> >>",
            b"<< /Length " + str(len(page_content)).encode()
            + b" >>\nstream\n" + page_content + b"\nendstream",
            *objs,
        ])

    def test_form_text_in_reading_and_stream_order(self):
        form = b"BT /F1 10 Tf 10 10 Td (letterhead) Tj ET"
        page = (b"BT /F1 12 Tf 72 700 Td (page body) Tj ET\n"
                b"q 1 0 0 1 72 750 cm /Fo1 Do Q")
        pdf = self._doc(page, [(1, 5)], [self._form(5, form)])
        assert minipdf.extract_page_texts(pdf, layout=True)[0] == \
            "letterhead\npage body"
        assert minipdf.extract_page_texts(pdf, layout=False)[0] == \
            "page body\nletterhead"
        boxes = minipdf.extract_page_word_boxes(pdf)[0]
        assert (boxes[0]["word"], boxes[0]["x0"], boxes[0]["y0"]) == \
            ("letterhead", 82.0, 760.0)

    def test_form_matrix_scales_placement(self):
        form = b"BT /F1 10 Tf 0 0 Td (scaled) Tj ET"
        page = b"q 1 0 0 1 100 100 cm /Fo1 Do Q"
        pdf = self._doc(
            page, [(1, 5)],
            [self._form(5, form, extra=b"/Matrix [2 0 0 2 10 20] ")],
        )
        (box,) = minipdf.extract_page_word_boxes(pdf)[0]
        # origin: Matrix (10,20) then cm (+100,+100); size 10*2=20
        assert (box["x0"], box["y0"]) == (110.0, 120.0)
        assert box["y1"] - box["y0"] == 20.0

    def test_nested_forms_and_own_fonts(self):
        inner = b"BT /F9 10 Tf 0 0 Td (\x61) Tj ET"  # code 0x61
        tou = (b"/CIDInit /ProcSet findresource begin 12 dict begin "
               b"begincmap 1 begincodespacerange <00> <ff> "
               b"endcodespacerange 1 beginbfchar <61> <0058> endbfchar "
               b"endcmap end end")
        outer = b"(outer) Tj /In0 Do"
        outer_full = b"BT /F1 10 Tf 5 5 Td " + outer + b" ET /In0 Do"
        page = b"/Fo1 Do"
        pdf = self._raw([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /XObject << "
            b"/Fo1 5 0 R >> >> >>",
            b"<< /Length " + str(len(page)).encode()
            + b" >>\nstream\n" + page + b"\nendstream",
            self._form(
                5, outer_full,
                extra=b"/Resources << /XObject << /In0 6 0 R >> >> ",
            ),
            self._form(
                6, inner,
                extra=b"/Resources << /Font << /F9 7 0 R >> >> ",
            ),
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/ToUnicode 8 0 R >>",
            b"<< /Length " + str(len(tou)).encode()
            + b" >>\nstream\n" + tou + b"\nendstream",
        ])
        out = minipdf.extract_page_texts(pdf, layout=False)[0]
        # inner form's own font maps 0x61 -> 'X'; nested Do works
        assert "outer" in out and "X" in out and "a" not in out

    def test_self_referencing_form_does_not_hang(self):
        form = b"BT /F1 10 Tf 0 0 Td (loop) Tj ET /Fo1 Do"
        page = b"/Fo1 Do"
        pdf = self._doc(
            page, [(1, 5)],
            [self._form(
                5, form,
                extra=b"/Resources << /XObject << /Fo1 5 0 R >> >> ",
            )],
        )
        import time

        t0 = time.monotonic()
        out = minipdf.extract_page_texts(pdf, layout=False)[0]
        assert time.monotonic() - t0 < 5.0
        assert "loop" in out

    def test_nested_do_falls_back_to_page_xobjects(self):
        # legacy files: a form WITHOUT its own /Resources invokes a
        # sibling form by name — the name must resolve against the
        # caller's (page's) /XObject dict (poppler's page-resource
        # fallback), in both text walkers
        outer = b"BT /F1 10 Tf 5 5 Td (outer) Tj ET /Fo2 Do"
        inner = b"BT /F1 10 Tf 0 0 Td (inner) Tj ET"
        page = b"/Fo1 Do"
        pdf = self._doc(
            page, [(1, 5), (2, 6)],
            [self._form(5, outer), self._form(6, inner)],
        )
        out = minipdf.extract_page_texts(pdf, layout=False)[0]
        assert "outer" in out and "inner" in out
        words = {b["word"] for b in minipdf.extract_page_word_boxes(pdf)[0]}
        assert {"outer", "inner"} <= words

    def test_unbalanced_q_in_form_keeps_caller_stack(self):
        # a malformed form with more Q than q must not pop the
        # CALLER's saved CTM entries: the caller's own later Q still
        # restores the right matrix
        form = b"Q BT /F1 10 Tf 0 0 Td (inner) Tj ET"
        page = (b"q 1 0 0 1 100 0 cm /Fo1 Do Q\n"
                b"BT /F1 12 Tf 10 700 Td (after) Tj ET")
        pdf = self._doc(page, [(1, 5)], [self._form(5, form)])
        by_word = {b["word"]: b
                   for b in minipdf.extract_page_word_boxes(pdf)[0]}
        # caller's Q restored identity -> 'after' sits at x=10, not 110
        assert by_word["after"]["x0"] == 10.0

    def test_state_restores_after_form(self):
        # the form changes Tf size and CTM; page text after Do must
        # keep its own state (implicit q/Q)
        form = b"BT /F1 30 Tf 0 0 Td (big) Tj ET"
        page = (b"q 5 0 0 5 0 0 cm /Fo1 Do Q\n"
                b"BT /F1 12 Tf 72 700 Td (after) Tj ET")
        pdf = self._doc(page, [(1, 5)], [self._form(5, form)])
        boxes = minipdf.extract_page_word_boxes(pdf)[0]
        by_word = {b["word"]: b for b in boxes}
        assert by_word["big"]["y1"] - by_word["big"]["y0"] == 150.0
        assert by_word["after"]["y1"] - by_word["after"]["y0"] == 12.0


class TestSMask:
    """/SMask soft-mask alpha surfaced alongside embedded images
    (round-8 ask #9, ISO 32000-1 §11.6.5.2)."""

    @staticmethod
    def _masked_pdf(encrypt=None, smask_filter="/FlateDecode"):
        w, h = 16, 8
        px = bytes((x * 16 + y) % 256 for y in range(h) for x in range(w))
        alpha = bytes(
            255 if x < w // 2 else 40 for y in range(h) for x in range(w)
        )
        data = zlib.compress(alpha) if smask_filter else alpha
        kwargs = {}
        if encrypt is not None:
            kwargs = dict(encrypt=encrypt, encrypt_rev=4)
        pdf = minipdf.build_pdf(
            ["masked"],
            images=[{
                "width": w, "height": h, "data": px,
                "smask": {"width": w, "height": h, "data": data,
                          "filter": smask_filter},
            }],
            **kwargs,
        )
        return pdf, px, alpha

    def test_smask_alpha_roundtrip(self):
        pdf, px, alpha = self._masked_pdf()
        doc = minipdf.PdfDocument(pdf)
        [e] = doc.page_images(doc.pages()[0])
        assert e["data"] == px
        sm = e["smask"]
        assert (sm["width"], sm["height"]) == (16, 8)
        assert sm["decodable"] is True
        assert sm["alpha"] == alpha

    def test_smask_uncompressed(self):
        pdf, _, alpha = self._masked_pdf(smask_filter=None)
        doc = minipdf.PdfDocument(pdf)
        [e] = doc.page_images(doc.pages()[0])
        assert e["smask"]["alpha"] == alpha

    def test_smask_through_encryption(self):
        pdf, _, alpha = self._masked_pdf(encrypt="pw")
        codec = PdfCodec(password="pw")
        hd = codec.open(pdf)
        [e] = codec.page_embedded_images(hd, 1)
        assert e["smask"]["alpha"] == alpha

    def test_smask_meta_json(self):
        import hashlib
        import json

        from pdf2dataset_spark.operators.features import (
            _embedded_image_meta,
            PageContext,
        )

        pdf, _, alpha = self._masked_pdf()
        codec = PdfCodec()
        hd = codec.open(pdf)
        ctx = PageContext(
            path="masked.pdf", codec=codec, handle=hd, page=1
        )
        [m] = json.loads(_embedded_image_meta(ctx))
        assert m["smask"]["decodable"] is True
        assert m["smask"]["alpha_sha256"] == hashlib.sha256(
            alpha
        ).hexdigest()

    def test_corrupt_smask_honest_false(self):
        # a /FlateDecode smask whose payload is not flate at all
        # (the tolerant inflater recovers clobbered HEADERS, so the
        # fixture must be undecodable outright)
        w, h = 16, 8
        broken = minipdf.build_pdf(
            ["masked"],
            images=[{
                "width": w, "height": h, "data": bytes(64),
                "smask": {"width": w, "height": h,
                          "data": b"definitely not a flate stream",
                          "filter": "/FlateDecode"},
            }],
        )
        doc = minipdf.PdfDocument(broken)
        [e] = doc.page_images(doc.pages()[0])
        sm = e["smask"]
        assert sm["decodable"] is False and sm["alpha"] is None
        # the base image still extracts
        assert e["decodable"] is True


class TestPredefinedUnicodeCmaps:
    """Predefined Uni*-UCS2/UTF16-[HV] encodings (ISO 32000-1
    §9.7.5.2): the show bytes ARE the text; UTF-16 surrogate pairs
    combine into supplementary-plane characters."""

    def test_utf16_surrogate_pairs(self):
        from pdf2dataset_spark.queries.tier_a import _ucs2_cmap_pdf

        text = "emoji \U0001F600 and \U00020BB7 ok"
        pdf = _ucs2_cmap_pdf(text, enc=b"/UniGB-UTF16-H")
        assert minipdf.extract_page_texts(pdf) == [text]

    def test_ucs2_still_decodes(self):
        from pdf2dataset_spark.queries.tier_a import _ucs2_cmap_pdf

        text = "統一碼 via UCS2"
        assert minipdf.extract_page_texts(_ucs2_cmap_pdf(text)) == [text]

    def test_tounicode_still_wins(self):
        # a /ToUnicode CMap outranks the predefined-encoding shortcut
        from pdf2dataset_spark.queries.tier_a import _cid_pdf

        text = "Ünïcode vía CMap — ∑ligatures"
        assert minipdf.extract_page_texts(_cid_pdf(text)) == [text]


class TestExtGStateFont:
    """ExtGState /Font (ISO 32000-1 Table 58, round-8): `gs` with a
    /Font [fontRef size] entry switches the active decode map in
    every text interpreter — no /Tf, no /Resources /Font name."""

    @staticmethod
    def _pdf(text: str) -> bytes:
        from pdf2dataset_spark.queries.tier_a import _raw_pdf

        bf = "".join(
            f"<{i + 1:04X}> <{ord(c):04X}>\n" for i, c in enumerate(text)
        )
        cmap = (
            "/CIDInit /ProcSet findresource begin\nbegincmap\n"
            "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            f"{len(text)} beginbfchar\n{bf}endbfchar\nendcmap end\n"
        ).encode()
        codes = "".join(f"{i + 1:04X}" for i in range(len(text)))
        content = f"BT /G1 gs 72 700 Td <{codes}> Tj ET".encode()
        return _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /ExtGState << /G1 << /Type /ExtGState "
            b"/Font [5 0 R 14] >> >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            b"<< /Type /Font /Subtype /Type0 /BaseFont /GSF "
            b"/ToUnicode 6 0 R >>",
            b"<< /Length " + str(len(cmap)).encode()
            + b" >>\nstream\n" + cmap + b"\nendstream",
        ])

    def test_stream_and_layout_extraction(self):
        text = "GS Font — ünïcode!"
        pdf = self._pdf(text)
        assert minipdf.extract_page_texts(pdf) == [text]
        assert minipdf.extract_page_texts(pdf, layout=True) == [text]

    def test_tf_overrides_after_gs(self):
        # Tf AFTER gs re-selects a resource font (here: none mapped →
        # Latin-1 fallback), pinning that gs doesn't pin the state
        from pdf2dataset_spark.queries.tier_a import _raw_pdf

        content = (b"BT /G1 gs /F9 7 Tf (plain) Tj ET")
        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /ExtGState << /G1 << "
            b"/Font [5 0 R 14] >> >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        ])
        assert minipdf.extract_page_texts(pdf) == ["plain"]

    def test_gs_font_size_feeds_layout(self):
        # the size operand lands in the run's font size (layout uses
        # it for line grouping) — smoke via word boxes not crashing
        pdf = self._pdf("sized")
        [boxes] = minipdf.extract_page_word_boxes(pdf)
        assert boxes and boxes[0]["word"] == "sized"
        # y1 - y0 == the gs size operand (14)
        assert boxes[0]["y1"] - boxes[0]["y0"] == 14.0


# ---------------------------------------------------------------------
# RTL/bidi logical order + vertical writing (round 11)
# ---------------------------------------------------------------------

from pdf2dataset_spark.queries.tier_a import _positioned_cid_pdf


class TestBidiLogicalOrder:
    def test_visual_to_logical_table(self):
        """The UAX #9-subset inverse on assembled visual lines."""
        cases = [
            ("hello world", "hello world"),
            # pure Hebrew: the visual line is the reversed logical
            ("םלוע םולש", "שלום עולם"),
            # RTL base with an embedded LTR island (kept LTR)
            ("רמשנ test.pdf ץבוקה", "הקובץ test.pdf נשמר"),
            # digits read LTR inside RTL text
            ("לקש 123 ריחמ", "מחיר 123 שקל"),
            # LTR base with an embedded RTL segment
            ("file םולש saved", "file שלום saved"),
            # paired brackets mirror back (L4 inverted)
            ("(םולש)", "(שלום)"),
            # Arabic
            ("ءيش لك", "كل شيء"),
            ("123 abc", "123 abc"),
        ]
        for vis, want in cases:
            assert minipdf._bidi_logical(vis) == want, vis

    def test_rtl_page_extracts_logical_order(self):
        """A page painting Hebrew in VISUAL order (the only way a PDF
        can paint it) extracts in LOGICAL order; a separate mixed
        line keeps its Latin island intact."""
        pdf = _positioned_cid_pdf([
            (72, 700, "םלוע םולש"),
            # mixed line painted as three runs, left-to-right
            (72, 680, "רמשנ"), (105, 680, "test.pdf"),
            (162, 680, "ץבוקה"),
        ])
        [txt] = minipdf.extract_page_texts(pdf, layout=True)
        assert txt.split("\n") == [
            "שלום עולם", "הקובץ test.pdf נשמר",
        ]

    def test_ltr_lines_unchanged(self):
        # the bidi pass must be a strict no-op without RTL chars
        pdf = _positioned_cid_pdf([(72, 700, "plain latin 123")])
        [txt] = minipdf.extract_page_texts(pdf, layout=True)
        assert txt == "plain latin 123"


class TestVerticalWriting:
    def test_identity_v_columns_right_to_left(self):
        """/Identity-V (WMode 1): glyphs advance DOWN one em per
        glyph; columns read right-to-left, each column one line."""
        pdf = _positioned_cid_pdf(
            [(300, 700, "春眠不覚暁"), (280, 700, "処処聞啼鳥")],
            enc=b"/Identity-V",
        )
        [txt] = minipdf.extract_page_texts(pdf, layout=True)
        assert txt.split("\n") == ["春眠不覚暁", "処処聞啼鳥"]

    def test_identity_v_multi_show_continues_column(self):
        """Consecutive shows in one text object continue DOWN the
        same column (the vertical advance lands in Tm)."""
        text = "縦書き試験"
        bfchars = "".join(
            f"<{i + 1:04X}> <{ord(c):04X}>\n" for i, c in enumerate(text)
        )
        cmap = (
            "/CIDInit /ProcSet findresource begin\nbegincmap\n"
            "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            f"{len(text)} beginbfchar\n{bfchars}endbfchar\nendcmap end\n"
        ).encode("ascii")
        content = (b"BT /F1 12 Tf 300 700 Td "
                   b"<000100020003> Tj <00040005> Tj ET")
        pdf = _wrap_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> >> >>",
            b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
            + content + b"\nendstream",
            b"<< /Type /Font /Subtype /Type0 /BaseFont /TestCID "
            b"/Encoding /Identity-V /ToUnicode 6 0 R >>",
            b"<< /Length " + str(len(cmap)).encode() + b" >>\nstream\n"
            + cmap + b"\nendstream",
        ])
        [txt] = minipdf.extract_page_texts(pdf, layout=True)
        assert txt == "縦書き試験"

    def test_identity_h_unaffected(self):
        # the same fixture with -H reads as one horizontal line
        pdf = _positioned_cid_pdf(
            [(72, 700, "春眠"), (100, 700, "不覚")],
        )
        [txt] = minipdf.extract_page_texts(pdf, layout=True)
        assert "春眠" in txt and "不覚" in txt and "\n" not in txt


class TestIncrementalUpdates:
    """append_update (ISO 32000-1 §7.5.6 fixture twin) + the
    last-definition-wins scan, end-to-end (round 11)."""

    @staticmethod
    def _content(text):
        body = f"BT /F1 12 Tf 72 720 Td ({text}) Tj ET".encode()
        return (b"<< /Length " + str(len(body)).encode()
                + b" >>\nstream\n" + body + b"\nendstream")

    def test_three_generations_latest_wins(self):
        base = minipdf.build_pdf(["one", "two"])
        g1 = minipdf.append_update(base, {4: self._content("one v2")})
        g2 = minipdf.append_update(g1, {6: self._content("two v2")})
        g3 = minipdf.append_update(g2, {4: self._content("one v3")})
        assert minipdf.extract_page_texts(base) == ["one", "two"]
        assert minipdf.extract_page_texts(g1) == ["one v2", "two"]
        assert minipdf.extract_page_texts(g3) == ["one v3", "two v2"]
        # the update sections really chain: each generation's trailer
        # carries /Prev and the original bytes are a strict prefix
        assert g3.startswith(g2) and g2.startswith(g1)
        assert g1.startswith(base)
        assert g3.count(b"/Prev") == 3

    def test_truncated_tail_recovers_intact_objects(self):
        base = minipdf.build_pdf(["one", "two"])
        g1 = minipdf.append_update(base, {4: self._content("one v2")})
        cut = g1[:g1.rfind(b"xref") + 6]  # xref table chopped mid-way
        assert minipdf.extract_page_texts(cut) == ["one v2", "two"]
        # cut INSIDE the updated object: the damaged generation can't
        # parse, so the previous generation stays live
        cut2 = g1[:len(base) + 20]
        assert minipdf.extract_page_texts(cut2) == ["one", "two"]

    def test_update_can_append_a_page(self):
        base = minipdf.build_pdf(["one", "two"])
        add = minipdf.append_update(base, {
            2: b"<< /Type /Pages /Kids [3 0 R 5 0 R 8 0 R] /Count 3 >>",
            8: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
               b"/Contents 9 0 R /Resources "
               b"<< /Font << /F1 7 0 R >> >> >>",
            9: self._content("three"),
        })
        assert minipdf.extract_page_texts(add) == ["one", "two", "three"]


# ---------------------------------------------------------------------
# Bidi round-trip property: an INDEPENDENT UAX #9-subset forward model
# (embedding levels + rule L2/L4 — a different algorithm family from
# the engine's segment-reversal inverse) renders logical text to
# visual; the engine's inverse must recover a logical string that
# renders back to the IDENTICAL visual. Visual→logical is many-to-one
# at direction boundaries (two logicals can share a display), so
# display∘inverse∘display == display is the strongest sound property;
# exact round-trip is additionally pinned on the common shapes above.
# ---------------------------------------------------------------------

_BIDI_MIRROR_FWD = str.maketrans("()[]{}<>«»", ")(][}{><»«")


def _uax9_display(logical: str) -> str:
    """Forward UAX #9 subset: W4 (single ES/CS between digits joins
    the number), W7 (digits after strong L act L), N1 with EN/AN
    treated as R, implicit levels, L2 run reversal, L4 mirroring."""
    import unicodedata

    def cl(ch):
        bd = unicodedata.bidirectional(ch)
        if bd in ("R", "AL"):
            return "R"
        if bd == "L":
            return "L"
        if bd in ("EN", "AN"):
            return "D"
        if bd in ("ES", "CS"):
            return "S"
        return "N"

    cs = [cl(c) for c in logical]
    if "R" not in cs:
        return logical
    base = 1 if cs.count("R") > cs.count("L") else 0
    n = len(cs)
    w4 = [
        "D" if c == "S" and 0 < i < n - 1
        and cs[i - 1] == "D" and cs[i + 1] == "D" else c
        for i, c in enumerate(cs)
    ]
    w4 = ["N" if c == "S" else c for c in w4]
    typed = list(w4)
    last = "L" if base == 0 else "R"
    for i, c in enumerate(w4):
        if c in ("R", "L"):
            last = c
        elif c == "D":
            typed[i] = "l" if last == "L" else "d"
    side = {"R": "R", "d": "R", "L": "L", "l": "L"}
    lev = [0] * n
    for i, t in enumerate(typed):
        if t == "R":
            lev[i] = 1
        elif t in ("L", "l"):
            lev[i] = 0 if base == 0 else 2
        elif t == "d":
            lev[i] = 2
    for i, t in enumerate(typed):
        if t != "N":
            continue
        ls = rs = None
        ll = rl = None
        j = i - 1
        while j >= 0:
            if typed[j] != "N":
                ls, ll = side[typed[j]], lev[j]
                break
            j -= 1
        j = i + 1
        while j < n:
            if typed[j] != "N":
                rs, rl = side[typed[j]], lev[j]
                break
            j += 1
        if ls is not None and ls == rs:
            lev[i] = 1 if ls == "R" else (min(ll, rl) if base else 0)
        else:
            lev[i] = base
    out = [
        c.translate(_BIDI_MIRROR_FWD) if lev[i] % 2 else c
        for i, c in enumerate(logical)
    ]
    for level in range(max(lev), 0, -1):
        i = 0
        while i < n:
            if lev[i] >= level:
                j = i
                while j < n and lev[j] >= level:
                    j += 1
                out[i:j] = out[i:j][::-1]
                i = j
            else:
                i += 1
    return "".join(out)


class TestBidiRoundTripProperty:
    _HEB = ["שלום", "עולם", "הקובץ", "נשמר", "מחיר", "שח", "ספר"]
    _ARA = ["كل", "شيء", "نص", "شكل"]
    _LAT = ["test", "file", "saved", "pdf", "a", "end"]

    def _token(self, rnd):
        r = rnd.random()
        if r < 0.35:
            return rnd.choice(self._HEB)
        if r < 0.45:
            return rnd.choice(self._ARA)
        if r < 0.70:
            return rnd.choice(self._LAT)
        if r < 0.85:
            t = str(rnd.randint(0, 9999))
            if rnd.random() < 0.3:
                t += rnd.choice(".,-") + str(rnd.randint(0, 99))
            return t
        t = self._token(rnd)
        return ("(" + t + ")" if rnd.random() < 0.5
                else t + rnd.choice(".,:"))

    def test_display_fixpoint_on_token_lines(self):
        """display(inverse(display(L))) == display(L) over 4000
        seeded token-structured lines: whatever preimage the inverse
        picks must RENDER identically — the strongest property a
        many-to-one display admits."""
        import random

        rnd = random.Random(7)
        for _ in range(4000):
            logical = " ".join(
                self._token(rnd) for _ in range(rnd.randint(1, 8))
            )
            vis = _uax9_display(logical)
            back = minipdf._bidi_logical(vis)
            assert _uax9_display(back) == vis, (logical, vis, back)

    def test_exact_roundtrip_on_unambiguous_lines(self):
        """Exact logical recovery where the preimage is unique in
        practice: single-script lines, L/digit islands inside RTL,
        RTL words (with interior numbers) inside LTR."""
        cases = [
            "שלום עולם",
            "הקובץ test.pdf נשמר",
            "הקובץ test 123 נשמר",
            "מחיר 123 שקל",
            "מחיר 123 456 שח",
            "file שלום saved",
            "total מחיר 123 שח end",
            "ab שלום 12 עולם cd",
            "(שלום)",
            "كل شيء",
            "מחיר 3.5-4 שח",
        ]
        for logical in cases:
            vis = _uax9_display(logical)
            assert minipdf._bidi_logical(vis) == logical, (logical, vis)

    def test_no_rtl_is_identity_everywhere(self):
        import random

        rnd = random.Random(3)
        for _ in range(500):
            s = "".join(
                rnd.choice("abc 0123.,()-:")
                for _ in range(rnd.randint(0, 20))
            )
            assert minipdf._bidi_logical(s) == s
            assert _uax9_display(s) == s


class TestVerticalAndBidiComposition:
    """Round-11 hardening: the vertical/bidi machinery composes with
    the other frame features (predefined -V CMaps, /Rotate pages,
    word boxes, ExtGState fonts)."""

    def test_predefined_ucs2_v_cmap_vertical(self):
        """/UniJIS-UCS2-V: codes ARE UCS-2 (no ToUnicode, no font
        program) AND the -V suffix drives vertical advances — two
        columns read right-to-left."""
        def col(x, text):
            hexs = text.encode("utf-16-be").hex().upper()
            return f"BT /F1 12 Tf {x} 700 Td <{hexs}> Tj ET"
        content = (col(300, "縦書き") + "\n" + col(280, "二列目")).encode()
        pdf = _wrap_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> >> >>",
            b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
            + content + b"\nendstream",
            b"<< /Type /Font /Subtype /Type0 /BaseFont /V "
            b"/Encoding /UniJIS-UCS2-V /DescendantFonts [6 0 R] >>",
            b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /V >>",
        ])
        [txt] = minipdf.extract_page_texts(pdf, layout=True)
        assert txt.split("\n") == ["縦書き", "二列目"]

    def test_rtl_on_rotated_page(self):
        """RTL logical ordering composes with the /Rotate display
        transform: a 90-rotated page whose text displays upright
        still reorders Hebrew to logical."""
        from pdf2dataset_spark.queries.tier_a import _raw_pdf

        # visual-order Hebrew painted with the text matrix rotating
        # content 90 deg CCW so /Rotate 90 displays it upright
        text = "םלוע םולש"
        bfchars = "".join(
            f"<{i + 1:04X}> <{ord(c):04X}>\n" for i, c in enumerate(text)
        )
        cmap = (
            "/CIDInit /ProcSet findresource begin\nbegincmap\n"
            "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            f"{len(text)} beginbfchar\n{bfchars}endbfchar\nendcmap end\n"
        ).encode("ascii")
        codes = "".join(f"{i + 1:04X}" for i in range(len(text)))
        content = (
            f"BT /F1 12 Tf 0 1 -1 0 500 100 Tm <{codes}> Tj ET"
        ).encode("ascii")
        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Rotate 90 /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources "
            b"<< /Font << /F1 5 0 R >> >> >>",
            b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
            + content + b"\nendstream",
            b"<< /Type /Font /Subtype /Type0 /BaseFont /RTL "
            b"/Encoding /Identity-H /ToUnicode 6 0 R >>",
            b"<< /Length " + str(len(cmap)).encode() + b" >>\nstream\n"
            + cmap + b"\nendstream",
        ])
        [txt] = minipdf.extract_page_texts(pdf, layout=True)
        assert txt == "שלום עולם"

    def test_vertical_word_boxes_smoke(self):
        """Word boxes on an /Identity-V page: the words surface in
        column order with finite coordinates (the reading-frame
        rotation applies to boxes too)."""
        pdf = _positioned_cid_pdf(
            [(300, 700, "春眠不覚暁"), (280, 700, "処処聞啼鳥")],
            enc=b"/Identity-V",
        )
        [boxes] = minipdf.extract_page_word_boxes(pdf)
        words = [b["word"] for b in boxes]
        assert words == ["春眠不覚暁", "処処聞啼鳥"]
        for b in boxes:
            assert b["x1"] > b["x0"] and all(
                isinstance(b[k], float) for k in ("x0", "y0", "x1", "y1")
            )

    def test_extgstate_vertical_font(self):
        """gs with an ExtGState /Font pointing at a vertical Type0
        font: the wrapped map flows through the gs path and the
        advance goes down-column."""
        text = "縦書"
        bfchars = "".join(
            f"<{i + 1:04X}> <{ord(c):04X}>\n" for i, c in enumerate(text)
        )
        cmap = (
            "/CIDInit /ProcSet findresource begin\nbegincmap\n"
            "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            f"{len(text)} beginbfchar\n{bfchars}endbfchar\nendcmap end\n"
        ).encode("ascii")
        content = b"BT /G1 gs 300 700 Td <00010002> Tj ET"
        pdf = _wrap_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
            b"<< /ExtGState << /G1 << /Font [5 0 R 12] >> >> >> >>",
            b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
            + content + b"\nendstream",
            b"<< /Type /Font /Subtype /Type0 /BaseFont /V "
            b"/Encoding /Identity-V /ToUnicode 6 0 R >>",
            b"<< /Length " + str(len(cmap)).encode() + b" >>\nstream\n"
            + cmap + b"\nendstream",
        ])
        [txt] = minipdf.extract_page_texts(pdf, layout=True)
        assert txt == "縦書"


def test_vertical_and_rtl_pages_render_to_png():
    """Composite render smoke on the round-11 text shapes: vertical
    (/Identity-V) and RTL pages produce valid PNGs — the glyph
    raster follows each run's displayed direction (round-9), so the
    new vertical run direction (0,-1) paints down-column instead of
    crashing or overlapping at a point."""
    from pdf2dataset_spark.queries.tier_a import _positioned_cid_pdf
    from pdf2dataset_spark.sources.codecs import PdfCodec

    codec = PdfCodec()
    for pdf in (
        _positioned_cid_pdf([(300, 700, "ABC DE"), (280, 700, "FGH")],
                            enc=b"/Identity-V"),
        _positioned_cid_pdf([(72, 700, "םלוע םולש")]),
    ):
        img = codec.page_image(codec.open(pdf), 1)
        assert img[:4] == b"\x89PNG"


class TestActualText:
    """/ActualText marked content (ISO 32000-1 §14.9.4): BDC..EMC
    scopes replace their shown glyphs with the author-declared
    string in BOTH walkers — ligature/dropcap/hyphenation fidelity,
    the pdftotext behavior."""

    LIG = (b"BT /F1 12 Tf 72 700 Td (e) Tj "
           b"/Span << /ActualText (ffi) >> BDC (\xef) Tj EMC "
           b"(cient) Tj ET")

    def test_ligature_replaced_stream_order(self):
        assert minipdf.content_text(self.LIG) == "efficient"

    def test_ligature_replaced_reading_order(self):
        assert minipdf.content_text_layout(self.LIG) == "efficient"

    def test_empty_actualtext_deletes_soft_hyphen(self):
        c = (b"BT /F1 12 Tf 72 700 Td (estab) Tj "
             b"/Span << /ActualText () >> BDC (-) Tj EMC ET "
             b"BT /F1 12 Tf 72 686 Td (lish) Tj ET")
        assert minipdf.content_text_layout(c) == "estab\nlish"
        assert minipdf.content_text(c) == "estab\nlish"

    def test_nested_scopes_outermost_wins(self):
        c = (b"BT /F1 12 Tf 72 700 Td "
             b"/Span << /ActualText (OUTER) >> BDC (a) Tj "
             b"/Span << /ActualText (inner) >> BDC (b) Tj EMC "
             b"(c) Tj EMC ET")
        assert minipdf.content_text(c) == "OUTER"
        assert minipdf.content_text_layout(c) == "OUTER"

    def test_named_properties_resolve(self):
        c = b"BT /F1 12 Tf 72 700 Td /Span /P7 BDC (x) Tj EMC ET"
        props = {"/P7": {"/ActualText": b"hello"}}
        assert minipdf.content_text(c, props=props) == "hello"
        assert minipdf.content_text_layout(c, props=props) == "hello"
        # unknown name: scope is inert, glyphs extract as-is
        assert minipdf.content_text(c) == "x"

    def test_utf16_actualtext_decodes(self):
        at = "﻿Łódź".encode("utf-16-be")
        c = (b"BT /F1 12 Tf 72 700 Td /Span << /ActualText <"
             + at.hex().encode() + b"> >> BDC (Lodz) Tj EMC ET")
        assert minipdf.content_text_layout(c) == "Łódź"

    def test_bmc_artifact_scope_is_inert(self):
        c = (b"/Artifact BMC BT /F1 12 Tf 72 700 Td (pg 3) Tj ET EMC "
             b"EMC")  # trailing unmatched EMC tolerated
        assert minipdf.content_text_layout(c) == "pg 3"

    def test_positioning_advances_through_scope(self):
        # glyphs AFTER the scope land where the replaced shows put
        # them: the scope shows 3 glyphs, the replacement is 1 char,
        # yet the following run's x must continue from the glyphs
        c = (b"BT /F1 12 Tf 72 700 Td "
             b"/Span << /ActualText (W) >> BDC (abc) Tj EMC "
             b"(tail) Tj ET")
        runs = minipdf._text_runs(c)
        assert [r["text"] for r in runs] == ["W", "tail"]
        # 3 glyphs * 0.5 em * 12pt = 18pt advance
        assert runs[1]["x"] == pytest.approx(72 + 18.0)

    def test_unclosed_scope_finalizes_at_stream_end(self):
        c = (b"BT /F1 12 Tf 72 700 Td "
             b"/Span << /ActualText (oops) >> BDC (x) Tj ET")
        assert minipdf.content_text(c) == "oops"
        assert minipdf.content_text_layout(c) == "oops"

    def test_form_scope_never_leaks(self):
        # a form whose BDC is never closed must finalize at the form
        # boundary, not swallow the caller's following text
        fcontent = (b"BT /F1 12 Tf 0 0 Td "
                    b"/Span << /ActualText (FORM) >> BDC (f) Tj ET")
        forms = {"/Fm1": (fcontent, {}, (1, 0, 0, 1, 0, 0), {})}
        c = (b"BT /F1 12 Tf 72 700 Td (pre ) Tj ET /Fm1 Do "
             b"BT /F1 12 Tf 72 650 Td (post) Tj ET")
        out = minipdf.content_text(c, forms=forms)
        assert "FORM" in out and "post" in out
        out2 = minipdf.content_text_layout(c, forms=forms)
        assert "FORM" in out2 and "post" in out2

    def test_inline_dict_end_to_end_through_codec(self):
        extra = (b"BT /F1 12 Tf 72 600 Td "
                 b"/Span << /ActualText (DAFFODIL) >> BDC (D\x01F) Tj "
                 b"EMC ET")
        pdf = minipdf.build_pdf(["plain"], extra_content=extra)
        codec = PdfCodec()
        h = codec.open(pdf)
        assert codec.page_text(h, 1) == "plain\nDAFFODIL"

    def test_named_properties_end_to_end_through_codec(self):
        # a NAMED property list resolved from the page's /Resources
        # /Properties dict via PdfDocument.page_properties. build_pdf
        # doesn't author /Properties, so splice one into the page's
        # resources — the stale xref this leaves exercises the
        # object-scanner resilience path too (the a19 trick).
        extra = b"BT /F1 12 Tf 72 600 Td /Span /AT1 BDC (Xy) Tj EMC ET"
        pdf = minipdf.build_pdf(["plain"], extra_content=extra)
        assert pdf.count(b"/Resources <<") >= 1
        pdf = pdf.replace(
            b"/Resources <<",
            b"/Resources << /Properties << /AT1 "
            b"<< /ActualText (NAMED) >> >>",
            1,
        )
        codec = PdfCodec()
        h = codec.open(pdf)
        assert codec.page_text(h, 1) == "plain\nNAMED"


class TestTextRenderMode:
    """Tr (ISO 32000-1 §9.3.6): invisible (mode 3) and clip-only
    (mode 7) text EXTRACTS — the searchable-OCR-layer idiom,
    pdftotext parity — but never PAINTS in the composite render."""

    def test_invisible_text_extracts(self):
        c = b"BT /F1 12 Tf 3 Tr 72 700 Td (ghost) Tj 0 Tr (vis) Tj ET"
        assert minipdf.content_text_layout(c) == "ghostvis"
        runs = minipdf._text_runs(c)
        assert [(r["text"], r["mode"]) for r in runs] == [
            ("ghost", 3), ("vis", 0)]

    def test_mode_restores_across_form(self):
        forms = {"/Fm1": (b"BT /F1 12 Tf 3 Tr 0 0 Td (in) Tj ET",
                          {}, (1, 0, 0, 1, 0, 0), {})}
        c = b"/Fm1 Do BT /F1 12 Tf 72 700 Td (out) Tj ET"
        runs = minipdf._text_runs(c, forms=forms)
        by_text = {r["text"]: r["mode"] for r in runs}
        assert by_text == {"in": 3, "out": 0}

    def test_composite_render_skips_invisible(self):
        from pdf2dataset_spark.sources import raster

        extra = (b"0.5 g 100 100 40 20 re f\n"
                 b"BT /F1 12 Tf 3 Tr 72 600 Td (SECRETLAYER) Tj ET\n")
        pdf = minipdf.build_pdf(["SHOWN"], extra_content=extra)
        codec = PdfCodec()
        h = codec.open(pdf)
        assert "SECRETLAYER" in codec.page_text(h, 1)
        w, hh, px = raster.decode_png(codec.page_image(h, 1))
        dark_rows = {r for r in range(hh)
                     if any(v < 100 for v in px[r * w:(r + 1) * w])}
        # the visible "SHOWN" line paints (top band); the invisible
        # line's band (y=600 -> row ~192) must stay empty
        assert any(r < 100 for r in dark_rows)
        assert not any(180 <= r <= 200 for r in dark_rows)
        # flipping to Tr 0 paints that band (the guard is load-bearing)
        h2 = codec.open(minipdf.build_pdf(
            ["SHOWN"], extra_content=extra.replace(b"3 Tr", b"0 Tr")))
        w2, hh2, px2 = raster.decode_png(codec.page_image(h2, 1))
        dark2 = {r for r in range(hh2)
                 if any(v < 100 for v in px2[r * w2:(r + 1) * w2])}
        assert any(180 <= r <= 200 for r in dark2)

    def test_hidden_char_fraction_feature(self):
        extra = (b"BT /F1 12 Tf 3 Tr 72 600 Td (HIDDENTEXTS) Tj ET")
        pdf = minipdf.build_pdf(["VISIBLETEXT"], extra_content=extra)
        codec = PdfCodec()
        h = codec.open(pdf)
        # 11 hidden of 22 non-space chars
        assert codec.page_hidden_char_fraction(h, 1) == pytest.approx(0.5)
        # all-visible page
        h2 = codec.open(minipdf.build_pdf(["abc"]))
        assert codec.page_hidden_char_fraction(h2, 1) == 0.0
        # empty page
        h3 = codec.open(minipdf.build_pdf([""]))
        assert codec.page_hidden_char_fraction(h3, 1) == 0.0


class TestArtifactAndDehyphenation:
    """/Artifact marked content (ISO 32000-1 §14.8.2.2) tags
    pagination furniture; content_paragraphs reflow dehyphenates
    typographic line breaks."""

    OPS = b"\n".join([
        b"/Artifact << /Type /Pagination >> BDC "
        b"BT /F1 10 Tf 72 770 Td (Running Header) Tj ET EMC",
        b"BT /F1 12 Tf 72 700 Td (The quick estab-) Tj ET",
        b"BT /F1 12 Tf 72 686 Td (lishment carried on) Tj ET",
        b"BT /F1 12 Tf 72 672 Td (the Euler-) Tj ET",
        b"BT /F1 12 Tf 72 658 Td (Lagrange way) Tj ET",
        b"/Artifact BMC BT /F1 10 Tf 300 40 Td (3) Tj ET EMC",
    ])

    def test_runs_carry_artifact_flag(self):
        runs = minipdf._text_runs(self.OPS)
        flags = {r["text"]: r["artifact"] for r in runs}
        assert flags["Running Header"] is True
        assert flags["3"] is True
        assert flags["The quick estab-"] is False

    def test_layout_text_keeps_artifacts(self):
        # pdftotext parity: plain text extraction keeps headers
        out = minipdf.content_text_layout(self.OPS)
        assert "Running Header" in out and "3" in out

    def test_paragraphs_drop_artifacts(self):
        paras = minipdf.content_paragraphs(self.OPS, drop_artifacts=True)
        assert all("Running Header" not in p for p in paras)
        assert all(p != "3" for p in paras)
        kept = minipdf.content_paragraphs(self.OPS)
        assert any("Running Header" in p for p in kept)

    def test_dehyphenation_lowercase_joins_solid(self):
        paras = minipdf.content_paragraphs(self.OPS, drop_artifacts=True)
        joined = " ".join(paras)
        assert "establishment" in joined
        assert "estab- lish" not in joined

    def test_dehyphenation_capitalized_keeps_hyphen(self):
        paras = minipdf.content_paragraphs(self.OPS, drop_artifacts=True)
        assert any("Euler-Lagrange" in p for p in paras)

    def test_non_letter_hyphen_untouched(self):
        ops = b"\n".join([
            b"BT /F1 12 Tf 72 700 Td (value is 5 -) Tj ET",
            b"BT /F1 12 Tf 72 686 Td (ish at best) Tj ET",
        ])
        # hyphen after a space (a dash, not a break) joins with space
        assert minipdf.content_paragraphs(ops) == ["value is 5 - ish at best"]

    def test_artifact_depth_restores_across_form(self):
        forms = {"/Fm1": (b"/Artifact BMC BT /F1 10 Tf 0 0 Td (hdr) "
                          b"Tj ET",  # EMC missing: ends at form
                          {}, (1, 0, 0, 1, 0, 0), {})}
        c = b"/Fm1 Do BT /F1 12 Tf 72 700 Td (body) Tj ET"
        runs = minipdf._text_runs(c, forms=forms)
        flags = {r["text"]: r["artifact"] for r in runs}
        assert flags == {"hdr": True, "body": False}

    def test_artifact_char_fraction_accessor(self):
        pdf = minipdf.build_pdf(["BODYTEXTGOESHERE"], extra_content=(
            b"/Artifact BMC BT /F1 10 Tf 72 40 Td (HDRS) Tj ET EMC\n"))
        codec = PdfCodec()
        h = codec.open(pdf)
        # 4 artifact chars of 20 non-space total
        assert codec.page_artifact_char_fraction(h, 1) == pytest.approx(0.2)


class TestOptionalContent:
    """Optional content (ISO 32000-1 §8.11): /OC BDC..EMC scopes and
    /OC-keyed form XObjects hidden by the DEFAULT configuration
    (/OCProperties /D) must not leak into extracted text — viewer
    and pdftotext behavior for hidden layers."""

    @staticmethod
    def _doc(ocprops: bytes, extra: bytes, props: bytes):
        base = minipdf.build_pdf(["Visible body"], extra_content=extra)
        return minipdf.append_update(base, {
            1: b"<< /Type /Catalog /Pages 2 0 R /OCProperties "
               + ocprops + b" >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources << /Font << /F1 5 0 R >> /Properties "
               + props + b" >> >>",
            20: b"<< /Type /OCG /Name (LayerA) >>",
            21: b"<< /Type /OCG /Name (LayerB) >>",
        })

    EXTRA = (b"/OC /L1 BDC BT /F1 12 Tf 72 650 Td (on layer) Tj ET EMC\n"
             b"/OC /L2 BDC BT /F1 12 Tf 72 620 Td (off layer) Tj ET EMC\n")
    PROPS = b"<< /L1 20 0 R /L2 21 0 R >>"

    def test_off_layer_suppressed_both_walkers(self):
        pdf = self._doc(
            b"<< /OCGs [20 0 R 21 0 R] /D << /OFF [21 0 R] >> >>",
            self.EXTRA, self.PROPS)
        codec = PdfCodec()
        # reading order, then stream order (the content_text walker)
        for t in (codec.page_text(codec.open(pdf), 1),
                  minipdf.extract_page_texts(pdf)[0]):
            assert "on layer" in t and "off layer" not in t

    def test_word_boxes_hide_off_layer_on_both_surfaces(self):
        pdf = self._doc(
            b"<< /OCGs [20 0 R 21 0 R] /D << /OFF [21 0 R] >> >>",
            self.EXTRA, self.PROPS)
        codec = PdfCodec()
        via_codec = codec.page_word_boxes(codec.open(pdf), 1)
        (via_doc,) = minipdf.extract_page_word_boxes(pdf)
        assert via_doc == via_codec
        assert " ".join(b["word"] for b in via_doc) == \
            "Visible body on layer"

    def test_no_ocproperties_shows_everything(self):
        base = minipdf.build_pdf(["Visible body"], extra_content=self.EXTRA)
        pdf = minipdf.append_update(base, {
            3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources << /Font << /F1 5 0 R >> /Properties "
               + self.PROPS + b" >> >>",
            20: b"<< /Type /OCG /Name (LayerA) >>",
            21: b"<< /Type /OCG /Name (LayerB) >>",
        })
        codec = PdfCodec()
        h = codec.open(pdf)
        t = codec.page_text(h, 1)
        assert "on layer" in t and "off layer" in t

    def test_basestate_off_with_on_list(self):
        pdf = self._doc(
            b"<< /OCGs [20 0 R 21 0 R] "
            b"/D << /BaseState /OFF /ON [20 0 R] >> >>",
            self.EXTRA, self.PROPS)
        codec = PdfCodec()
        h = codec.open(pdf)
        t = codec.page_text(h, 1)
        assert "on layer" in t and "off layer" not in t

    def test_ocmd_anyon_policy(self):
        # OCMD over {A(on), B(off)} with default /AnyOn stays visible;
        # with /AllOn it hides
        extra = (b"/OC /M1 BDC BT /F1 12 Tf 72 650 Td (anyon) Tj ET EMC\n"
                 b"/OC /M2 BDC BT /F1 12 Tf 72 620 Td (allon) Tj ET EMC\n")
        base = minipdf.build_pdf(["Visible body"], extra_content=extra)
        pdf = minipdf.append_update(base, {
            1: b"<< /Type /Catalog /Pages 2 0 R /OCProperties "
               b"<< /OCGs [20 0 R 21 0 R] /D << /OFF [21 0 R] >> >> >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources << /Font << /F1 5 0 R >> /Properties "
               b"<< /M1 22 0 R /M2 23 0 R >> >> >>",
            20: b"<< /Type /OCG /Name (LayerA) >>",
            21: b"<< /Type /OCG /Name (LayerB) >>",
            22: b"<< /Type /OCMD /OCGs [20 0 R 21 0 R] >>",
            23: b"<< /Type /OCMD /OCGs [20 0 R 21 0 R] /P /AllOn >>",
        })
        codec = PdfCodec()
        h = codec.open(pdf)
        t = codec.page_text(h, 1)
        assert "anyon" in t and "allon" not in t

    def test_hidden_form_xobject_skipped(self):
        # a /Form XObject carrying /OC to an off OCG never executes
        base = minipdf.build_pdf(["Visible body"])
        form = b"BT /F1 12 Tf 0 0 Td (form layer) Tj ET"
        pdf = minipdf.append_update(base, {
            1: b"<< /Type /Catalog /Pages 2 0 R /OCProperties "
               b"<< /OCGs [20 0 R] /D << /OFF [20 0 R] >> >> >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
               b"/Resources << /Font << /F1 5 0 R >> /XObject "
               b"<< /Fm1 24 0 R >> >> >>",
            20: b"<< /Type /OCG /Name (LayerA) >>",
            24: b"<< /Type /XObject /Subtype /Form /OC 20 0 R "
                b"/BBox [0 0 612 792] /Length "
                + str(len(form)).encode() + b" >>\nstream\n"
                + form + b"\nendstream",
        })
        # page content must invoke the form; splice a Do into content
        doc = minipdf.PdfDocument(pdf)
        pg = doc.pages()[0]
        forms = doc.page_forms(pg)
        assert forms == {}  # hidden form filtered at discovery
        codec = PdfCodec()
        h = codec.open(pdf)
        assert "form layer" not in codec.page_text(h, 1)

    def test_positioning_advances_through_hidden_scope(self):
        # hidden-layer shows advance tm: following text in the SAME
        # text object must land after the hidden glyphs
        extra = (b"BT /F1 12 Tf 72 650 Td "
                 b"/OC /L2 BDC (HIDE) Tj EMC (tail) Tj ET\n")
        pdf = self._doc(
            b"<< /OCGs [20 0 R 21 0 R] /D << /OFF [21 0 R] >> >>",
            extra, self.PROPS)
        doc = minipdf.PdfDocument(pdf)
        pg = doc.pages()[0]
        runs = minipdf._text_runs(
            doc.page_content(pg), fonts=doc.page_fonts(pg),
            props=doc.page_properties(pg))
        tail = [r for r in runs if r["text"] == "tail"]
        assert tail and tail[0]["x"] == pytest.approx(72 + 4 * 6.0)
        assert not any(r["text"] == "HIDE" for r in runs)


class TestIndexedImages:
    """/Indexed palette images (ISO 32000-1 §8.6.6.3): samples are
    lookup-table indices — round-11 maps them through the palette
    (1/2/4/8-bit packed, gray/RGB/CMYK bases) instead of reading
    them as gray values."""

    @staticmethod
    def _pack(vals, w, h, bits):
        rowlen = (w * bits + 7) // 8
        out = bytearray(rowlen * h)
        per = 8 // bits
        for y in range(h):
            for x in range(w):
                sft = (per - 1 - (x % per)) * bits
                out[y * rowlen + x // per] |= vals[y * w + x] << sft
        return bytes(out)

    def _decode(self, data, cs, bits, w, h):
        from pdf2dataset_spark.sources import minipdf

        pdf = minipdf.build_pdf([""], images=[{
            "width": w, "height": h, "data": data,
            "colorspace": cs, "bits": bits}])
        codec = PdfCodec()
        hd = codec.open(pdf)
        doc = hd.doc
        e = doc.page_images(doc.pages()[0], decode_pixels=True)[0]
        return codec._entry_gray(e, doc)

    def test_palette_is_load_bearing_inverted_gray(self):
        w, h = 6, 2
        samples = bytes(range(12))
        pal = bytes(255 - i for i in range(256))
        got = self._decode(
            samples,
            "[/Indexed /DeviceGray 255 <" + pal.hex() + ">]", 8, w, h)
        assert got is not None
        assert got[2] == bytes(255 - v for v in samples)

    def test_two_bit_packing_and_rgb_luma(self):
        w, h = 5, 3
        vals = bytes([0, 1, 2, 3, 0, 3, 2, 1, 0, 1, 2, 3, 0, 1, 2])
        # palette: pure R, pure G, pure B, white
        pal = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255,
                     255, 255, 255])
        got = self._decode(
            self._pack(vals, w, h, 2),
            "[/Indexed /DeviceRGB 3 <" + pal.hex() + ">]", 2, w, h)
        lum = [76, 150, 29, 255]  # BT.601 of the four entries
        assert list(got[2]) == [lum[v] for v in vals]

    def test_index_past_hival_clamps(self):
        # §8.6.6.3: out-of-range indices clamp to the last entry
        got = self._decode(
            bytes([0, 5, 200]), "[/Indexed /DeviceGray 1 <10f0>]",
            8, 3, 1)
        assert list(got[2]) == [0x10, 0xF0, 0xF0]

    def test_short_lookup_zero_fills(self):
        got = self._decode(
            bytes([0, 1, 2]), "[/Indexed /DeviceGray 2 <aabb>]",
            8, 3, 1)
        assert list(got[2]) == [0xAA, 0xBB, 0x00]

    def test_one_bit_row_padding(self):
        # 3-wide rows pad to a byte boundary per row
        w, h = 3, 2
        vals = bytes([1, 0, 1, 0, 1, 0])
        got = self._decode(
            self._pack(vals, w, h, 1),
            "[/Indexed /DeviceGray 1 <ff00>]", 1, w, h)
        assert list(got[2]) == [0x00, 0xFF, 0x00, 0xFF, 0x00, 0xFF]

    def test_cmyk_base_k_formula(self):
        got = self._decode(
            bytes([0, 1]),
            "[/Indexed /DeviceCMYK 1 <00000000" + "000000ff" + ">]",
            8, 2, 1)
        assert list(got[2]) == [255, 0]


class TestMetadataDatesAndXmp:
    """parse_pdf_date (ISO 32000-1 §7.9.4 -> ISO 8601) and the XMP
    /Metadata fallback surface (§14.3)."""

    @pytest.mark.parametrize("inp,want", [
        ("D:20240131120000+01'00'", "2024-01-31T12:00:00+01:00"),
        ("D:20240131120000Z", "2024-01-31T12:00:00Z"),
        ("D:20240131", "2024-01-31T00:00:00"),
        ("D:2024", "2024-01-01T00:00:00"),
        ("20051211093000-05'00'", "2005-12-11T09:30:00-05:00"),
        ("D:20230704102030+05'30", "2023-07-04T10:20:30+05:30"),
        ("2023-07-04T10:20:30Z", "2023-07-04T10:20:30Z"),
        ("D:20241399", None),
        ("D:20240132", None),
        ("garbage", None),
        ("", None),
    ])
    def test_parse_pdf_date(self, inp, want):
        assert minipdf.PdfDocument.parse_pdf_date(inp) == want

    XMP = (b'<x:xmpmeta xmlns:x="adobe:ns:meta/">'
           b'<rdf:RDF xmlns:rdf='
           b'"http://www.w3.org/1999/02/22-rdf-syntax-ns#">'
           b'<rdf:Description rdf:about=""'
           b' xmlns:dc="http://purl.org/dc/elements/1.1/"'
           b' xmlns:xmp="http://ns.adobe.com/xap/1.0/">'
           b'<dc:title><rdf:Alt><rdf:li>T1</rdf:li></rdf:Alt>'
           b'</dc:title>'
           b'<dc:creator><rdf:Seq><rdf:li>A1</rdf:li></rdf:Seq>'
           b'</dc:creator>'
           b'<xmp:CreateDate>2019-05-06T07:08:09Z</xmp:CreateDate>'
           b'</rdf:Description></rdf:RDF></x:xmpmeta>')

    def _with_xmp(self, base, xmp=None):
        xmp = xmp if xmp is not None else self.XMP
        return minipdf.append_update(base, {
            1: b"<< /Type /Catalog /Pages 2 0 R /Metadata 20 0 R >>",
            20: b"<< /Type /Metadata /Subtype /XML /Length "
                + str(len(xmp)).encode() + b" >>\nstream\n" + xmp
                + b"\nendstream",
        })

    def test_xmp_fills_missing_info(self):
        pdf = self._with_xmp(minipdf.build_pdf(["b"]))
        codec = PdfCodec()
        h = codec.open(pdf)
        info = codec.doc_info(h)
        assert info["Title"] == "T1" and info["Author"] == "A1"
        assert codec.doc_dates(h) == ("2019-05-06T07:08:09Z", None)

    def test_info_wins_over_xmp(self):
        pdf = self._with_xmp(
            minipdf.build_pdf(["b"], info={"Title": "From Info"}))
        codec = PdfCodec()
        h = codec.open(pdf)
        info = codec.doc_info(h)
        assert info["Title"] == "From Info"
        assert info["Author"] == "A1"  # XMP still fills the gap

    def test_malformed_xmp_is_inert(self):
        pdf = self._with_xmp(minipdf.build_pdf(["b"]),
                             xmp=b"<not-xml <<<")
        codec = PdfCodec()
        h = codec.open(pdf)
        assert codec.doc_info(h) == {}
        assert codec.doc_dates(h) == (None, None)

    def test_attribute_form_xmp(self):
        xmp = (b'<x:xmpmeta xmlns:x="adobe:ns:meta/">'
               b'<rdf:RDF xmlns:rdf='
               b'"http://www.w3.org/1999/02/22-rdf-syntax-ns#">'
               b'<rdf:Description rdf:about=""'
               b' xmlns:xmp="http://ns.adobe.com/xap/1.0/"'
               b' xmp:ModifyDate="2021-02-03T04:05:06Z"/>'
               b'</rdf:RDF></x:xmpmeta>')
        pdf = self._with_xmp(minipdf.build_pdf(["b"]), xmp=xmp)
        codec = PdfCodec()
        h = codec.open(pdf)
        assert codec.doc_dates(h) == (None, "2021-02-03T04:05:06Z")


class TestDocProfile:
    """PdfDocument.profile(): structural corpus facets — version
    (header + catalog override), linearization, tagged-PDF marks,
    encryption flag surviving decryption."""

    def test_plain_defaults(self):
        doc = minipdf.PdfDocument(minipdf.build_pdf(["b"]))
        p = doc.profile()
        assert p == {"version": "1.4", "linearized": False,
                     "tagged": False, "encrypted": False}

    def test_catalog_version_overrides_header(self):
        pdf = minipdf.append_update(minipdf.build_pdf(["b"]), {
            1: b"<< /Type /Catalog /Pages 2 0 R /Version /2.0 >>"})
        assert minipdf.PdfDocument(pdf).profile()["version"] == "2.0"

    def test_structtreeroot_flags_tagged(self):
        pdf = minipdf.append_update(minipdf.build_pdf(["b"]), {
            1: b"<< /Type /Catalog /Pages 2 0 R "
               b"/StructTreeRoot 30 0 R >>",
            30: b"<< /Type /StructTreeRoot >>"})
        assert minipdf.PdfDocument(pdf).profile()["tagged"] is True

    def test_encrypted_flag_survives_decryption(self):
        pdf = minipdf.build_pdf(["secret b"], encrypt="pw")
        doc = minipdf.PdfDocument(pdf, password=b"pw")
        assert doc.profile()["encrypted"] is True
        # and the document really did decrypt
        assert minipdf.content_text(
            doc.page_content(doc.pages()[0])) == "secret b"

    def test_linearized_dict_detected_not_comment(self):
        base = minipdf.build_pdf(["b"])
        head, rest = base.split(b"\n", 1)
        lin = (head + b"\n9 0 obj\n<< /Linearized 1 /L 9 /H [0 0] "
               b"/O 3 /E 1 /N 1 /T 5 >>\nendobj\n" + rest)
        assert minipdf.PdfDocument(lin).profile()["linearized"] is True
        assert minipdf.PdfDocument(base).profile()["linearized"] is False
