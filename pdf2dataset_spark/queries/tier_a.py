"""Tier A — the reference's own dataflow operators (SURVEY.md §2).

The binary sources / feature UDFs / sinks (A1–A2, A5–A7, A10–A11)
need real files and are exercised end-to-end in tests/test_extraction
.py; here each remaining operator gets a driver-checkable analog on
the testdata, plus `a0` runs the real extraction pipeline on
deterministic in-memory fixtures (rows-only: binary/traceback columns
aren't SQL-comparable).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf2dataset_spark.queries import query
from pdf2dataset_spark.queries._util import t


# --------------------------------------------------------------- A0
@query(
    "a0_extract_pipeline",
    sql="""
    SELECT * FROM (VALUES
      ('a.pdf', 1, 'page one', false),
      ('a.pdf', 2, 'page two', false),
      ('a.pdf', 3, 'page three', false),
      ('b.pdf', 1, 'single page', false),
      ('bad.pdf', -1, CAST(NULL AS VARCHAR), true)
    ) t(path, page, text, has_error)
    """,
    tier="A",
)
def a0_extract_pipeline(spark, sf_dir):
    """The reference's core loop end-to-end (A2+A4+A5+A8): in-memory
    docs → fused mapInArrow fan-out + text feature + error capture.
    Deterministic fixture incl. a corrupted doc → error row; the
    oracle is the golden expected output (fixture is constant, so the
    full value-hash check applies)."""
    from pdf2dataset_spark.extraction import ExtractionPipeline

    docs = {
        "a.pdf": "page one\fpage two\fpage three".encode(),
        "b.pdf": "single page".encode(),
        "bad.pdf": b"\xff\xfe broken",
    }
    pipe = ExtractionPipeline(spark=spark, features=["text"])
    pages = pipe.pages(docs)
    return pages.select("path", "page", "text", F.col("error").isNotNull().alias("has_error"))


# --------------------------------------------------------------- A5
@query(
    "a5_pdf_extract",
    sql="""
    SELECT * FROM (VALUES
      ('a.pdf', 1, 'page one text', false),
      ('a.pdf', 2, 'page two text', false),
      ('a.pdf', 3, 'page three text', false),
      ('b.pdf', 1, 'single page body', false),
      ('bad.pdf', -1, CAST(NULL AS VARCHAR), true)
    ) t(path, page, text, has_error)
    """,
    tier="A",
)
def a5_pdf_extract(spark, sf_dir):
    """REAL PDF text extraction (A5): documents are genuine PDF files
    (FlateDecode streams, page tree, Tj/TJ content) generated by the
    pure-Python writer, parsed back by sources/minipdf through the
    fused pipeline with PdfCodec. Rows-only (binary input has no SQL
    twin); exact page-text recovery is asserted in tests/test_minipdf
    .py."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import build_pdf

    docs = {
        "a.pdf": build_pdf(
            ["page one text", "page two text", "page three text"],
            compress=True,
        ),
        "b.pdf": build_pdf(["single page body"]),
        "bad.pdf": b"%PDF-1.4 truncated garbage",
    }
    pipe = ExtractionPipeline(spark=spark, features=["text"], codec=PdfCodec())
    pages = pipe.pages(docs)
    return pages.select(
        "path", "page", "text", F.col("error").isNotNull().alias("has_error")
    )


# --------------------------------------------------------------- A16
@query(
    "a16_encrypted_pdf_extract",
    sql="""
    SELECT * FROM (VALUES
      ('aes256.pdf', 1, 'aes two fifty six', false),
      ('aesv2.pdf', 1, 'aes one twenty eight', false),
      ('locked.pdf', -1, CAST(NULL AS VARCHAR), true),
      ('rc4.pdf', 1, 'rc4 page one', false),
      ('rc4.pdf', 2, 'rc4 page two', false)
    ) t(path, page, text, has_error)
    """,
    tier="A",
)
def a16_encrypted_pdf_extract(spark, sf_dir):
    """Encrypted-PDF extraction (A5 + Standard security handler):
    really-encrypted documents — RC4-128 (R3), AES-128 (R4 /AESV2)
    and AES-256 (R6 /AESV3) — decrypt transparently inside the fused
    pipeline (sources/pdfcrypt + _aes, empty user password), while a
    user-password-locked file surfaces as an error row (page=-1), not
    a crash. Fixture is constant → full golden value-hash oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import build_pdf

    docs = {
        "rc4.pdf": build_pdf(
            ["rc4 page one", "rc4 page two"], compress=True,
            encrypt="", encrypt_rev=3,
        ),
        "aesv2.pdf": build_pdf(
            ["aes one twenty eight"], encrypt="", encrypt_rev=4
        ),
        "aes256.pdf": build_pdf(
            ["aes two fifty six"], compress=True, encrypt="", encrypt_rev=6
        ),
        "locked.pdf": build_pdf(["hidden"], encrypt="pw", encrypt_rev=6),
    }
    pipe = ExtractionPipeline(spark=spark, features=["text"], codec=PdfCodec())
    pages = pipe.pages(docs)
    return pages.select(
        "path", "page", "text", F.col("error").isNotNull().alias("has_error")
    )


# --------------------------------------------------------------- A17
def _cid_pdf(text: str) -> bytes:
    """One-page PDF whose content shows `text` through a Type0 font
    with a per-character /ToUnicode bfchar CMap (2-byte codes)."""
    bfchars = "".join(
        f"<{i + 1:04X}> <{ord(c):04X}>\n" for i, c in enumerate(text)
    )
    cmap = (
        "/CIDInit /ProcSet findresource begin\nbegincmap\n"
        "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        f"{len(text)} beginbfchar\n{bfchars}endbfchar\n"
        "endcmap end\n"
    ).encode("ascii")
    codes = "".join(f"{i + 1:04X}" for i in range(len(text)))
    content = f"BT /F1 12 Tf <{codes}> Tj ET".encode("ascii")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Fake-CID "
        b"/ToUnicode 6 0 R >>",
        b"<< /Length " + str(len(cmap)).encode() + b" >>\nstream\n"
        + cmap + b"\nendstream",
    ]
    buf = bytearray(b"%PDF-1.5\n")
    for i, body in enumerate(objs, start=1):
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    buf += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(buf)


def _type0_ff3_pdf(
    codes: list[int], font: bytes, subtype: bytes = b"/CIDFontType0C"
) -> bytes:
    """One-page PDF showing 2-byte CID ``codes`` through a
    Type0/CIDFontType0 font with NO /ToUnicode whose program is the
    given /FontFile3 stream — text is only recoverable by parsing the
    CFF/OpenType program itself (sources/cff + sources/sfnt)."""
    hexs = "".join(f"{c:04X}" for c in codes)
    content = f"BT /F1 12 Tf <{hexs}> Tj ET".encode("ascii")
    return _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /CIDCFF "
        b"/Encoding /Identity-H /DescendantFonts [6 0 R] >>",
        b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /CIDCFF "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> /FontDescriptor 7 0 R >>",
        b"<< /Type /FontDescriptor /FontName /CIDCFF /Flags 4 "
        b"/FontFile3 8 0 R >>",
        b"<< /Subtype " + subtype + b" /Length " + str(len(font)).encode()
        + b" >>\nstream\n" + font + b"\nendstream",
    ])


def _cid_keyed_otto_pdf(text: str) -> bytes:
    """OpenType-wrapped CID-KEYED CFF (the round-8 what's-missing #3
    fixture): the sfnt cmap maps unicode→gid, the inner ``CFF ``
    table's charset maps gid→cid (format 2, non-trivial CIDs), and
    the content stream shows the CIDs with /Identity-H and no
    /ToUnicode — recovery composes cmap ∘ charset⁻¹."""
    from pdf2dataset_spark.sources import cff, sfnt

    chars = sorted(set(text))
    cid_of_gid = [1000 + i for i in range(len(chars))]  # gid i+1 → CID
    inner = cff.build_cff_cid(cid_of_gid, charset_fmt=2, fdselect_fmt=3)
    otto = sfnt.build_sfnt_cmap(
        {ord(c): i + 1 for i, c in enumerate(chars)},
        extra_tables={b"CFF ": inner},
        version_tag=0x4F54544F,  # 'OTTO'
    )
    cid_of_char = {c: 1000 + i for i, c in enumerate(chars)}
    return _type0_ff3_pdf(
        [cid_of_char[c] for c in text], otto, subtype=b"/OpenType"
    )


def _named_cff_cid_pdf(text: str) -> bytes:
    """Bare NAME-keyed CFF in the CIDFont slot (ISO 32000-1 §9.7.4.2:
    CID == GID) — glyph names come from the CFF charset and map to
    unicode through the AGL; no /ToUnicode, no cmap."""
    from pdf2dataset_spark.sources import cff

    chars = sorted(set(text))
    special = {" ": "space", "!": "exclam", ",": "comma", ".": "period"}
    c2n = {
        i + 1: special.get(c)
        or (c if c.isalpha() and c.isascii() else f"uni{ord(c):04X}")
        for i, c in enumerate(chars)
    }
    font = cff.build_cff(c2n)
    gid_of_char = {c: i + 1 for i, c in enumerate(chars)}
    return _type0_ff3_pdf([gid_of_char[c] for c in text], font)


def _ucs2_cmap_pdf(text: str, enc: bytes = b"/UniJIS-UCS2-H") -> bytes:
    """Type0 font with a predefined unicode encoding (ISO 32000-1
    §9.7.5.2): the code bytes ARE the text — UCS-2 directly, or
    UTF-16 with surrogate pairs for supplementary-plane glyphs —
    so it decodes with no font program and no /ToUnicode at all."""
    hexs = text.encode("utf-16-be").hex().upper()
    content = f"BT /F1 12 Tf <{hexs}> Tj ET".encode("ascii")
    return _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /UCS2 "
        b"/Encoding " + enc + b" /DescendantFonts [6 0 R] >>",
        b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /UCS2 >>",
    ])


@query(
    "a17_cid_font_extract",
    sql="""
    SELECT * FROM (VALUES
      ('cid.pdf', 1, 'Ünïcode vía CMap — ∑ligatures', false),
      ('cidcff.pdf', 1, '中文 CID ✓', false),
      ('namedcid.pdf', 1, 'Named CFF, as CIDFont!', false),
      ('ucs2.pdf', 1, '統一碼 via UCS2', false),
      ('utf16.pdf', 1, 'pair 😀 plane2 𠮷', false),
      ('plain.pdf', 1, 'plain latin text', false)
    ) t(path, page, text, has_error)
    """,
    tier="A",
)
def a17_cid_font_extract(spark, sf_dir):
    """CID/Type0 font extraction (A5 + /ToUnicode), round-8-extended
    with the CID-keyed-CFF recovery paths (what's-missing #3): a
    /ToUnicode bfchar doc, an OpenType-wrapped CID-KEYED CFF (sfnt
    cmap ∘ CFF charset, no /ToUnicode), a bare name-keyed CFF in the
    CIDFont slot (CID==GID → charset names → AGL), a predefined
    /UniJIS-UCS2-H doc (codes ARE UCS-2), and a plain Helvetica doc
    in the same batch — pinning Tf-driven decoder switching inside
    the fused pipeline. Constant fixtures → full golden value-hash
    oracle (incl. the unicode text)."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import build_pdf

    docs = {
        "cid.pdf": _cid_pdf("Ünïcode vía CMap — ∑ligatures"),
        "cidcff.pdf": _cid_keyed_otto_pdf("中文 CID ✓"),
        "namedcid.pdf": _named_cff_cid_pdf("Named CFF, as CIDFont!"),
        "ucs2.pdf": _ucs2_cmap_pdf("統一碼 via UCS2"),
        "utf16.pdf": _ucs2_cmap_pdf(
            "pair 😀 plane2 𠮷", enc=b"/UniGB-UTF16-H"
        ),
        "plain.pdf": build_pdf(["plain latin text"]),
    }
    pipe = ExtractionPipeline(spark=spark, features=["text"], codec=PdfCodec())
    pages = pipe.pages(docs)
    return pages.select(
        "path", "page", "text", F.col("error").isNotNull().alias("has_error")
    )


@query(
    "a18_embedded_image_extract",
    sql="""
    SELECT * FROM (VALUES
      ('enc.pdf', 1, 1, 'jpeg', 16, 8, true,
       'dc8737e59f09cddd65286358708ab121fe26ace3296ccb2beca38e72195fc4ca',
       NULL, NULL),
      ('img.pdf', 1, 2, 'jpeg', 16, 8, true,
       'dc8737e59f09cddd65286358708ab121fe26ace3296ccb2beca38e72195fc4ca',
       NULL, NULL),
      ('masked.pdf', 1, 1, 'raw', 16, 8, true,
       '955b3655f1ba0d1d2ae127d836849bab744e29c7527628fd9a5bcb75ce29fbc4',
       true,
       'bc6aeb91477efcb6c81c117075ebe365b7970aaef7c9ab627935c877416b3bba'),
      ('plain.pdf', 1, 0, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
    ) t(path, page, n_images, fmt0, w0, h0, dec0, sha0,
        sm_dec0, sm_sha0)
    """,
    tier="A",
)
def a18_embedded_image_extract(spark, sf_dir):
    """Embedded-image extraction (A-tier multimodal: pdfimages-shaped
    /DCTDecode fallback, zero native deps). img.pdf carries a baseline
    JPEG XObject plus an unfiltered raw-sample image; enc.pdf is
    AES-128 encrypted with the same JPEG (decrypt-then-extract must be
    byte-identical — same sha256); masked.pdf (round-8 ask #9) is a
    raw image with a Flate-coded /SMask soft mask — the decoded
    8-bit ALPHA plane surfaces alongside the base payload
    (sm_dec0/sm_sha0 pin the metadata + content hash from the JSON
    meta column); plain.pdf has none. The JPEG payload comes out as
    the complete JFIF file (sources/jpeg.py decodes it — `decodable`
    column), metadata flows as JSON and the payload hash is computed
    JVM-side from the binary feature column. Constant fixture → full
    golden value-hash oracle."""
    import zlib as _zlib

    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.jpeg import encode_jpeg
    from pdf2dataset_spark.sources.minipdf import build_pdf

    w, h = 16, 8
    px = bytes((x * 16 + y) % 256 for y in range(h) for x in range(w))
    jpg = encode_jpeg(w, h, px, quality=90)
    imgs = [
        {"filter": "/DCTDecode", "width": w, "height": h, "data": jpg},
        {"width": w, "height": h, "data": px},
    ]
    alpha = bytes(
        255 if x < w // 2 else 40 for y in range(h) for x in range(w)
    )
    docs = {
        "img.pdf": build_pdf(["image doc"], images=imgs),
        "plain.pdf": build_pdf(["no images"]),
        "enc.pdf": build_pdf(
            ["secret image"], encrypt="pw", encrypt_rev=4, images=imgs[:1]
        ),
        "masked.pdf": build_pdf(
            ["masked image doc"],
            images=[{
                "width": w, "height": h, "data": px,
                "smask": {"width": w, "height": h,
                          "data": _zlib.compress(alpha),
                          "filter": "/FlateDecode"},
            }],
        ),
    }
    pipe = ExtractionPipeline(
        spark=spark,
        features=["n_images", "embedded_image", "embedded_image_meta"],
        codec=PdfCodec(password="pw"),
    )
    meta = F.col("embedded_image_meta")
    return pipe.pages(docs).select(
        "path",
        "page",
        "n_images",
        F.get_json_object(meta, "$[0].format").alias("fmt0"),
        F.get_json_object(meta, "$[0].width").cast("int").alias("w0"),
        F.get_json_object(meta, "$[0].height").cast("int").alias("h0"),
        F.get_json_object(meta, "$[0].decodable").cast("boolean").alias("dec0"),
        F.lower(F.sha2(F.col("embedded_image"), 256)).alias("sha0"),
        F.get_json_object(meta, "$[0].smask.decodable")
        .cast("boolean").alias("sm_dec0"),
        F.get_json_object(meta, "$[0].smask.alpha_sha256")
        .alias("sm_sha0"),
    )


@query(
    "a19_color_image_extract",
    sql="""
    SELECT * FROM (VALUES
      ('color.pdf', 1, 2, '/Im0', 'jpeg', 32, 16, true,
       '59a8dc1c7767b9ae0d3716e3cdf0d58409397a6ab3589bc1190342422f9af98c'),
      ('color.pdf', 1, 2, 'inline0', 'jpeg', 32, 16, true,
       '59a8dc1c7767b9ae0d3716e3cdf0d58409397a6ab3589bc1190342422f9af98c'),
      ('cmyk.pdf', 1, 1, '/Im0', 'jpeg', 30, 20, true,
       '1a3f154d11309f50c694721246fa19d27c3333b8993b48bbde73bb7c7ea90c11'),
      ('p12.pdf', 1, 1, '/Im0', 'jpeg', 40, 24, true,
       '34b3cb452afe241a2b7bfbb69d096192b0581f124c0f653970346f9c16baf51e'),
      ('lossless.pdf', 1, 1, '/Im0', 'jpeg', 36, 22, true,
       '64fb07394f21a894ff3d433d805a2211e3cade6885f7bc6af9f370a4efa4f6d3'),
      ('p12cmyk.pdf', 1, 1, '/Im0', 'jpeg', 28, 18, true,
       '99ea63cbe9b14d3784a9c1013493c803913d79414f6773021914f77ef536d2b3')
    ) t(path, page, n_images, img_name, fmt, w, h, dec, sha0)
    """,
    tier="A",
)
def a19_color_image_extract(spark, sf_dir):
    """Color-JPEG image extraction (A-tier multimodal): one page
    carrying the SAME YCbCr 4:4:4 baseline JPEG twice — as a
    /DCTDecode XObject and as a BI..ID..EI inline image spliced into
    the content stream (which also exercises the object-scanner
    resilience path: the splice stales the xref offsets). Both must
    report decodable=true now that the engine decoder handles
    3-component baseline, with one row per image via the
    JSON-metadata explode; ``sha0`` is the sha256 of the FIRST
    payload computed JVM-side from the binary feature column
    (repeated on both rows), so the oracle's hash is measured, not
    assumed — byte equality of the two copies is pinned in
    tests/test_minipdf.py. A second document carries an Adobe CMYK
    (4-component, APP14 transform 0) /DCTDecode XObject — the
    print-production shape — decodable through the inversion
    convention. A third carries a 12-BIT extended-sequential gray
    JPEG (SOF1, 16-bit DQT elements — the archival/medical regime),
    decodable through the 2^11 level shift + 8-bit rescale path.
    A fourth carries a LOSSLESS JPEG (SOF3, T.81 Annex H: Huffman
    prediction differences, predictor 4) — the DICOM export shape.
    A fifth carries a 12-BIT ADOBE CMYK (SOF1 + APP14, round 6 —
    previously a named decline): native-precision inversion, the
    same CMYK path as 8-bit with one final rescale.
    Constant fixtures → golden value-hash oracle."""
    import numpy as np

    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.jpeg import encode_jpeg
    from pdf2dataset_spark.sources.minipdf import build_pdf

    w, h = 32, 16
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1),
         (xx + yy) * 255 // (w + h - 2)],
        axis=-1,
    ).astype(np.uint8)
    jpg = encode_jpeg(w, h, rgb.tobytes(), quality=90, ncomp=3)
    base = build_pdf(
        ["color page"],
        images=[{"filter": "/DCTDecode", "width": w, "height": h,
                 "data": jpg, "colorspace": "/DeviceRGB"}],
    )
    # splice an inline copy of the same JPEG into page 1's content
    # stream (uncompressed stream: /Length is the only byte to patch)
    marker = b"stream\n"
    i = base.index(marker)
    j = base.index(b"\nendstream", i)
    content = base[i + len(marker) : j]
    inline = b"\nq BI /W 32 /H 16 /F /DCT ID " + jpg + b" EI Q"
    patched_content = content + inline
    head_start = base.rindex(b"<<", 0, i)
    new_head = f"<< /Length {len(patched_content)} >>".encode()
    doc = (
        base[:head_start]
        + new_head
        + b"\n"
        + marker
        + patched_content
        + base[j:]
    )
    # object offsets shifted → rely on minipdf's object scanner (it
    # ignores stale xref tables), which is exactly the A1 resilience
    # path real mangled PDFs exercise
    pipe = ExtractionPipeline(
        spark=spark,
        features=["n_images", "embedded_image", "embedded_image_meta"],
        codec=PdfCodec(),
    )
    cyy, cxx = np.mgrid[0:20, 0:30]
    cmyk = np.stack(
        [cxx * 255 // 29, cyy * 255 // 19,
         (cxx + cyy) * 255 // 48, ((cxx * cyy) // 4) % 160],
        axis=-1,
    ).astype(np.uint8)
    cmyk_jpg = encode_jpeg(30, 20, cmyk.tobytes(), quality=92, ncomp=4)
    cmyk_doc = build_pdf(
        ["cmyk page"],
        images=[{"filter": "/DCTDecode", "width": 30, "height": 20,
                 "data": cmyk_jpg, "colorspace": "/DeviceCMYK"}],
    )
    from pdf2dataset_spark.sources.jpeg import encode_jpeg12_gray

    pyy, pxx = np.mgrid[0:24, 0:40]
    s12 = ((pxx * 100 + pyy * 37) % 4096).astype(int)
    jpg12 = encode_jpeg12_gray(40, 24, s12.reshape(-1).tolist(),
                               quality=90)
    p12_doc = build_pdf(
        ["twelve-bit page"],
        images=[{"filter": "/DCTDecode", "width": 40, "height": 24,
                 "data": jpg12}],
    )
    from pdf2dataset_spark.sources.jpeg import encode_jpeg_lossless

    lyy, lxx = np.mgrid[0:22, 0:36]
    lg = ((lxx * 11 + lyy * 7) % 256).astype(int).reshape(-1).tolist()
    jpgl = encode_jpeg_lossless(36, 22, lg, predictor=4)
    lossless_doc = build_pdf(
        ["lossless page"],
        images=[{"filter": "/DCTDecode", "width": 36, "height": 22,
                 "data": jpgl}],
    )
    from pdf2dataset_spark.sources.jpeg import encode_jpeg12_cmyk

    qyy, qxx = np.mgrid[0:18, 0:28]
    c12 = np.stack(
        [(qxx * 146) % 4096, (qyy * 227) % 4096,
         ((qxx + qyy) * 83) % 4096, ((qxx * qyy) * 5) % 2048],
        axis=-1,
    ).astype(int)
    p12cmyk_doc = build_pdf(
        ["twelve-bit cmyk page"],
        images=[{"filter": "/DCTDecode", "width": 28, "height": 18,
                 "data": encode_jpeg12_cmyk(
                     28, 18, c12.reshape(-1).tolist(), quality=92),
                 "colorspace": "/DeviceCMYK", "bits": 12}],
    )
    pages = pipe.pages({"color.pdf": doc, "cmyk.pdf": cmyk_doc,
                        "p12.pdf": p12_doc,
                        "lossless.pdf": lossless_doc,
                        "p12cmyk.pdf": p12cmyk_doc})
    meta = F.explode(
        F.from_json(
            F.col("embedded_image_meta"),
            "array<struct<bits:int,colorspace:string,decodable:boolean,"
            "format:string,height:int,name:string,width:int>>",
        )
    ).alias("m")
    return pages.select(
        "path",
        "page",
        "n_images",
        F.lower(F.sha2(F.col("embedded_image"), 256)).alias("sha0"),
        meta,
    ).select(
        "path",
        "page",
        "n_images",
        F.col("m.name").alias("img_name"),
        F.col("m.format").alias("fmt"),
        F.col("m.width").alias("w"),
        F.col("m.height").alias("h"),
        F.col("m.decodable").alias("dec"),
        "sha0",
    )


@query(
    "a21_progressive_image_extract",
    sql="""
    SELECT * FROM (VALUES
      ('prog.pdf', 1, 2, '/Im0', 'jpeg', 32, 16, true,
       '1d16d16b7e1d980eb84edb0a7003f16dcc2e504d22a154f76858ff5d18693ef8'),
      ('prog.pdf', 1, 2, '/Im1', 'jpeg', 16, 8, true,
       '1d16d16b7e1d980eb84edb0a7003f16dcc2e504d22a154f76858ff5d18693ef8')
    ) t(path, page, n_images, img_name, fmt, w, h, dec, sha0)
    """,
    tier="A",
)
def a21_progressive_image_extract(spark, sf_dir):
    """PROGRESSIVE-JPEG image extraction (round-5 close of the
    what's-missing item: SOF2 was a named error before): one page
    carrying a color (YCbCr 4:4:4) and a gray progressive JPEG — both
    encoded with spectral selection AND successive approximation
    (encode_jpeg_progressive's 10/6-scan script) — as /DCTDecode
    XObjects. Both must report decodable=true through the engine
    decoder's multi-scan path; ``sha0`` is the sha256 of the FIRST
    payload computed JVM-side from the binary feature column (repeated
    per row). Pixel-exactness vs the baseline encoding of the same
    coefficients is pinned in tests/test_raster.py. Constant fixture →
    golden value-hash oracle."""
    import numpy as np

    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.jpeg import encode_jpeg_progressive
    from pdf2dataset_spark.sources.minipdf import build_pdf

    w, h = 32, 16
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1),
         (xx + yy) * 255 // (w + h - 2)],
        axis=-1,
    ).astype(np.uint8)
    color = encode_jpeg_progressive(w, h, rgb.tobytes(), quality=90, ncomp=3)
    gray = encode_jpeg_progressive(
        16, 8, bytes((x * 16 + y) % 256 for y in range(8) for x in range(16)),
        quality=90,
    )
    doc = build_pdf(
        ["progressive page"],
        images=[
            {"filter": "/DCTDecode", "width": w, "height": h,
             "data": color, "colorspace": "/DeviceRGB"},
            {"filter": "/DCTDecode", "width": 16, "height": 8,
             "data": gray},
        ],
    )
    pipe = ExtractionPipeline(
        spark=spark,
        features=["n_images", "embedded_image", "embedded_image_meta"],
        codec=PdfCodec(),
    )
    pages = pipe.pages({"prog.pdf": doc})
    meta = F.explode(
        F.from_json(
            F.col("embedded_image_meta"),
            "array<struct<bits:int,colorspace:string,decodable:boolean,"
            "format:string,height:int,name:string,width:int>>",
        )
    ).alias("m")
    return pages.select(
        "path",
        "page",
        "n_images",
        F.lower(F.sha2(F.col("embedded_image"), 256)).alias("sha0"),
        meta,
    ).select(
        "path",
        "page",
        "n_images",
        F.col("m.name").alias("img_name"),
        F.col("m.format").alias("fmt"),
        F.col("m.width").alias("w"),
        F.col("m.height").alias("h"),
        F.col("m.decodable").alias("dec"),
        "sha0",
    )


# --------------------------------------------------------------- A6/A7
@query(
    "a6_page_render_ocr",
    sql="""
    SELECT * FROM (VALUES
      ('a.pdf', 1, 84, 10, 'da5b6e34', true),
      ('a.pdf', 2, 84, 10, 'eac9b8af', true),
      ('b.pdf', 1, 72, 10, 'd5bcca2d', true),
      ('c.pdf', 1, 612, 792, '53a7a1dc', true),
      ('d.pdf', 1, 612, 792, '58dcf084', true),
      ('e.pdf', 1, 612, 792, '6b014818', true),
      ('f.pdf', 1, 612, 792, '6a83d97a', true)
    ) t(path, page, img_w, img_h, render_sha8, ocr_matches)
    """,
    tier="A",
)
def a6_page_render_ocr(spark, sf_dir):
    """Page render + OCR (A6/A7): real PDFs → per-page PNG render
    (pure-stdlib raster, bitmap font) → pixel OCR; the query returns
    per-page decoded image dimensions (parsed from the PNG IHDR
    JVM-side — a stable function of text length and the 6x10 cell
    geometry, unlike compressed byte counts which depend on the zlib
    implementation), the render's sha256 prefix, and whether OCR
    round-tripped the extracted text exactly. c.pdf is the COMPOSITE
    page: text + an embedded JPEG placed by cm+Do + a rect fill + a
    stroked line all drawn onto one MediaBox-sized canvas
    (sources/raster.compose_page) — its render sha pins the
    composited bitmap; pure-text pages keep the grid raster whose
    OCR round-trips. d.pdf pins CURVES + CLIPPING (round-7): a
    W-clipped full-page fill paints only inside its rectangular clip
    window, a stroked Bezier flattens to the deterministic
    16-chord polyline, and FILLED non-rect subpaths (a closed
    triangle, a curve blob implicitly closed by the fill) paint as
    even-odd scanline polygons (minipdf.content_draw_ops,
    raster.compose_page polys). e.pdf pins AXIAL SHADING: a
    clip-scoped sh paint with a Type 3 stitching function over two
    Type 2 exponential segments rasterizes as a per-pixel masked
    gray patch — since round 8 under ANY invertible affine CTM and
    axis direction, device pixels mapped back through the CTM
    inverse (codecs.PdfCodec._axial_patch; the round-7 strips path
    declined rotated axes). f.pdf pins RADIAL shading
    (/ShadingType 3): a bottom-z-layer gray patch solved per
    ISO 32000-1 8.7.4.5.4 under similarity CTMs
    (codecs.PdfCodec._radial_patch), a rect fill painting over it;
    unpainted shading pixels are transparent (mask skip-stamp), so
    overlapping shadings compose in stream order. Non-similarity-CTM
    radial and unsupported-function shadings decline by name.
    Exactness asserted both here (ocr_matches column) and in
    tests/test_raster.py."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.jpeg import encode_jpeg
    from pdf2dataset_spark.sources.minipdf import build_pdf

    iw, ih = 32, 24
    ipx = bytes(((x * 8 + y) % 256) for y in range(ih) for x in range(iw))
    docs = {
        "a.pdf": build_pdf(["alpha page one", "alpha page two"], compress=True),
        "b.pdf": build_pdf(["bravo single"]),
        "c.pdf": build_pdf(
            ["composite page text"],
            images=[{"filter": "/DCTDecode", "width": iw, "height": ih,
                     "data": encode_jpeg(iw, ih, ipx, quality=90)}],
            extra_content=(
                b"q 128 0 0 96 300 500 cm /Im0 Do Q\n"
                b"0.5 g 72 100 200 50 re f\n"
                b"0 G 72 80 m 540 80 l S"
            ),
        ),
        "d.pdf": build_pdf(
            ["curve clip text"],
            extra_content=(
                b"q 100 300 200 100 re W n 0.25 g 0 0 612 792 re f Q\n"
                b"0 G 72 600 m 200 700 350 500 540 620 c S\n"
                b"0.75 g 400 100 m 500 100 l 450 180 l h f\n"
                b"0.1 g 72 150 m 110 220 180 220 220 150 c f"
            ),
        ),
        "f.pdf": _content_pdf(
            b"BT /F1 12 Tf 72 700 Td (radial badge text) Tj ET\n"
            b"q 120 320 160 160 re W n /Sh0 sh Q\n"
            b"0.5 g 190 390 20 20 re f",
            page_extra=(
                b"/MediaBox [0 0 612 792] /Resources << /Shading << /Sh0 << "
                b"/ShadingType 3 /Coords [200 400 0 200 400 80] "
                b"/Function << /FunctionType 2 /C0 [0.0] /C1 [1.0] /N 1 >> "
                b"/Extend [false true] >> >> >>"
            ),
        ),
        "e.pdf": _content_pdf(
            b"BT /F1 12 Tf 72 700 Td (gradient header text) Tj ET\n"
            b"q 72 560 468 80 re W n /Sh0 sh Q\n"
            b"0 g 72 540 m 300 540 l 186 580 l h f",
            page_extra=(
                b"/MediaBox [0 0 612 792] /Resources << /Shading << /Sh0 << "
                b"/ShadingType 2 /Coords [72 0 540 0] "
                b"/Function << /FunctionType 3 /Domain [0 1] /Bounds [0.5] "
                b"/Encode [0 1 0 1] /Functions ["
                b"<< /FunctionType 2 /C0 [0.9] /C1 [0.2] /N 1 >> "
                b"<< /FunctionType 2 /C0 [0.2] /C1 [0.9] /N 2 >>] >> "
                b"/Extend [true true] >> >> >>"
            ),
        ),
    }
    pipe = ExtractionPipeline(
        spark=spark, features=["text", "image", "ocr"], codec=PdfCodec()
    )
    pages = pipe.pages(docs)
    def ihdr_field(pos: int) -> F.Column:
        # PNG layout: 8-byte signature + 4-byte length + "IHDR", then
        # big-endian u32 width at offset 16 (1-indexed 17), height at 20.
        return F.conv(F.hex(F.substring(F.col("image"), pos, 4)), 16, 10).cast(
            "int"
        )

    return pages.select(
        "path",
        "page",
        ihdr_field(17).alias("img_w"),
        ihdr_field(21).alias("img_h"),
        F.substring(F.sha2(F.col("image"), 256), 1, 8).alias("render_sha8"),
        (F.col("ocr") == F.col("text")).alias("ocr_matches"),
    )


def _raw_pdf(objs: list[bytes]) -> bytes:
    buf = bytearray(b"%PDF-1.5\n")
    for i, body in enumerate(objs, start=1):
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    buf += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(buf)


def _annot_outline_pdf() -> bytes:
    """One page with markup + widget annotations (one /Popup to skip)
    and a two-level bookmark outline — the a23 fixture."""
    note16 = b"\xfe\xff" + "nöte UTF-16".encode("utf-16-be")
    body = b"BT /F1 10 Tf (body text) Tj ET"
    return _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R /Outlines 10 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Annots [5 0 R 6 0 R 7 0 R 8 0 R 9 0 R] >>",
        b"<< /Length " + str(len(body)).encode() + b" >>\nstream\n"
        + body + b"\nendstream",
        b"<< /Type /Annot /Subtype /Text /Contents (a sticky comment) >>",
        b"<< /Type /Annot /Subtype /Highlight /Contents (" + note16 + b") >>",
        b"<< /Type /Annot /Subtype /Widget /T (name) /V (Ada) >>",
        b"<< /Type /Annot /Subtype /Widget /T (choice) /V /OptionB >>",
        b"<< /Type /Annot /Subtype /Popup /Contents (dup of parent) >>",
        b"<< /Type /Outlines /First 11 0 R /Last 12 0 R >>",
        b"<< /Title (Chapter 1) /Parent 10 0 R /Next 12 0 R "
        b"/First 13 0 R /Last 13 0 R >>",
        b"<< /Title (Chapter 2) /Parent 10 0 R /Prev 11 0 R >>",
        b"<< /Title (Section 1.1) /Parent 11 0 R >>",
    ])


def _cff_custom_pdf(text: str) -> bytes:
    """One page whose simple Type1 font embeds a CFF (/FontFile3,
    Type1C) with a CUSTOM built-in encoding (codes 1..n) and no
    /ToUnicode / /Encoding — text is only recoverable via
    sources/cff."""
    from pdf2dataset_spark.sources import cff

    chars = sorted(set(text))
    code_of = {c: i + 1 for i, c in enumerate(chars)}
    special = {" ": "space", "!": "exclam", ",": "comma", ".": "period"}
    c2n = {
        code: special.get(c)
        or (c if c.isalpha() and c.isascii() else f"uni{ord(c):04X}")
        for c, code in code_of.items()
    }
    font = cff.build_cff(c2n)
    body = b"BT /F1 12 Tf (" + bytes(code_of[c] for c in text) + b") Tj ET"
    return _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(body)).encode() + b" >>\nstream\n"
        + body + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /T1C "
        b"/FontDescriptor 6 0 R >>",
        b"<< /Type /FontDescriptor /FontName /T1C /Flags 4 "
        b"/FontFile3 7 0 R >>",
        b"<< /Subtype /Type1C /Length " + str(len(font)).encode()
        + b" >>\nstream\n" + font + b"\nendstream",
    ])


def _type1_custom_pdf(text: str) -> bytes:
    """As :func:`_cff_custom_pdf` but the font program is a cleartext
    PostScript Type1 (/FontFile) — sources/type1's dup/put array."""
    from pdf2dataset_spark.sources import type1

    chars = sorted(set(text))
    code_of = {c: i + 1 for i, c in enumerate(chars)}
    special = {" ": "space", "!": "exclam", ",": "comma", ".": "period"}
    c2n = {
        code: special.get(c)
        or (c if c.isalpha() and c.isascii() else f"uni{ord(c):04X}")
        for c, code in code_of.items()
    }
    font = type1.build_type1(c2n)
    body = b"BT /F1 12 Tf (" + bytes(code_of[c] for c in text) + b") Tj ET"
    return _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(body)).encode() + b" >>\nstream\n"
        + body + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /T1 "
        b"/FontDescriptor 6 0 R >>",
        b"<< /Type /FontDescriptor /FontName /T1 /Flags 4 "
        b"/FontFile 7 0 R >>",
        b"<< /Length1 " + str(len(font)).encode() + b" /Length "
        + str(len(font)).encode() + b" >>\nstream\n" + font
        + b"\nendstream",
    ])


def _fontfile_cid_pdf(text: str) -> bytes:
    """One-page PDF whose Type0/CIDFontType2 font has NO /ToUnicode —
    the text is only recoverable from the embedded /FontFile2's own
    TrueType cmap (sources/sfnt), with /Identity-H and identity
    /CIDToGIDMap so the 2-byte CIDs are glyph ids."""
    from pdf2dataset_spark.sources import sfnt

    chars = sorted(set(text))
    mapping = {ord(c): 3 + i for i, c in enumerate(chars)}
    font = sfnt.build_sfnt_cmap(mapping)
    codes = "".join(f"{mapping[ord(c)]:04X}" for c in text)
    content = f"BT /F1 12 Tf <{codes}> Tj ET".encode("ascii")
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
        b"/FontDescriptor 7 0 R /CIDToGIDMap /Identity >>",
        b"<< /Type /FontDescriptor /FontName /Embedded-CID /Flags 4 "
        b"/FontFile2 8 0 R >>",
        b"<< /Length " + str(len(font)).encode() + b" >>\nstream\n"
        + font + b"\nendstream",
    ]
    buf = bytearray(b"%PDF-1.5\n")
    for i, body in enumerate(objs, start=1):
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    buf += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(buf)


@query(
    "a22_embedded_font_cmap_extract",
    sql="""
    SELECT * FROM (VALUES
      ('embed.pdf', 1, 'Recovered från the föntfile — ✓', false),
      ('plain.pdf', 1, 'no font program here', false)
    ) t(path, page, text, has_error)
    """,
    tier="A",
)
def a22_embedded_font_cmap_extract(spark, sf_dir):
    """CID text WITHOUT /ToUnicode (round-5 close of what's-missing
    #3): the Type0 font's embedded TrueType program is parsed
    (sources/sfnt cmap formats 4/12/6/0) and its unicode→glyph map
    inverted through /CIDToGIDMap, so the 2-byte CID string decodes to
    real text — non-Latin-1 codepoints included — inside the fused
    pipeline, next to a plain Helvetica doc in the same batch.
    Constant fixture → full golden value-hash oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import build_pdf

    docs = {
        "embed.pdf": _fontfile_cid_pdf("Recovered från the föntfile — ✓"),
        "plain.pdf": build_pdf(["no font program here"]),
    }
    pipe = ExtractionPipeline(spark=spark, features=["text"], codec=PdfCodec())
    pages = pipe.pages(docs)
    return pages.select(
        "path", "page", "text", F.col("error").isNotNull().alias("has_error")
    )


@query(
    "a23_annotations_outline_extract",
    sql="""
    SELECT * FROM (VALUES
      ('annot.pdf', 1, 'body text',
       'a sticky comment' || CHR(10) || 'n' || CHR(246) || 'te UTF-16'
         || CHR(10) || 'Ada' || CHR(10) || 'OptionB',
       4, 'Chapter 1' || CHR(10) || '  Section 1.1' || CHR(10) || 'Chapter 2'),
      ('cff.pdf', 1, 'CFF text recovered!', NULL, 0, NULL),
      ('t1.pdf', 1, 'Type1 text recovered, too.', NULL, 0, NULL),
      ('plain.pdf', 1, 'plain body', NULL, 0, NULL)
    ) t(path, page, text, annotations, n_annotations, outline)
    """,
    tier="A",
)
def a23_annotations_outline_extract(spark, sf_dir):
    """Annotation text, form values and the bookmark outline as
    extraction features, plus the round-5 embedded-font recoveries
    exercised through the fused pipeline: a page with sticky-note /
    highlight (UTF-16) / widget (/V string and name) annotations and
    a two-level /Outlines tree, a CFF (/FontFile3) custom-encoding
    doc, a PostScript Type1 (/FontFile) custom-encoding doc, and a
    plain baseline — all in one batch. Constant fixtures → full
    golden value-hash oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import build_pdf

    docs = {
        "annot.pdf": _annot_outline_pdf(),
        "cff.pdf": _cff_custom_pdf("CFF text recovered!"),
        "t1.pdf": _type1_custom_pdf("Type1 text recovered, too."),
        "plain.pdf": build_pdf(["plain body"]),
    }
    pipe = ExtractionPipeline(
        spark=spark,
        features=["text", "annotations", "n_annotations", "outline"],
        codec=PdfCodec(),
    )
    return pipe.pages(docs).select(
        "path", "page", "text", "annotations", "n_annotations", "outline"
    )


def _attachments_pdf() -> bytes:
    """One page; two /EmbeddedFiles name-tree attachments (one Flate-
    compressed) plus a /FileAttachment annotation — the a24 fixture."""
    import zlib as _z

    a = b"attached text payload"
    bpay = bytes(range(48)) * 4
    bz = _z.compress(bpay)
    c = b"annotation-attached file"
    body = b"BT /F1 10 Tf (doc with attachments) Tj ET"
    return _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R /Names << /EmbeddedFiles "
        b"<< /Names [(a.txt) 5 0 R (data.bin) 7 0 R] >> >> >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Annots [9 0 R] >>",
        b"<< /Length " + str(len(body)).encode() + b" >>\nstream\n"
        + body + b"\nendstream",
        b"<< /Type /Filespec /F (a.txt) /UF (a.txt) /EF << /F 6 0 R >> >>",
        b"<< /Type /EmbeddedFile /Length " + str(len(a)).encode()
        + b" >>\nstream\n" + a + b"\nendstream",
        b"<< /Type /Filespec /F (data.bin) /EF << /F 8 0 R >> >>",
        b"<< /Type /EmbeddedFile /Filter /FlateDecode /Length "
        + str(len(bz)).encode() + b" >>\nstream\n" + bz + b"\nendstream",
        b"<< /Type /Annot /Subtype /FileAttachment /Contents (see file) "
        b"/FS 10 0 R >>",
        b"<< /Type /Filespec /F (note.dat) /EF << /F 11 0 R >> >>",
        b"<< /Type /EmbeddedFile /Length " + str(len(c)).encode()
        + b" >>\nstream\n" + c + b"\nendstream",
    ])


@query(
    "a24_attachment_extract",
    sql="""
    SELECT * FROM (VALUES
      ('attach.pdf', 1, 'doc with attachments', 3,
       'a.txt' || CHR(10) || 'data.bin' || CHR(10) || 'note.dat',
       '9f57d1ab16999534bca2c04a44262e551087aa22d9da101504df80a608785bc4'),
      ('plain.pdf', 1, 'no files here', 0, NULL, NULL)
    ) t(path, page, text, n_attachments, attachment_names, first_sha)
    """,
    tier="A",
)
def a24_attachment_extract(spark, sf_dir):
    """Embedded file attachments through the fused pipeline: an
    /EmbeddedFiles name tree (one plain, one FlateDecode-compressed
    payload — filters undone before surfacing) plus a /FileAttachment
    annotation filespec; names, count and the first payload's sha256
    (measured JVM-side) against a plain baseline. Constant fixtures →
    full golden value-hash oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import build_pdf

    docs = {
        "attach.pdf": _attachments_pdf(),
        "plain.pdf": build_pdf(["no files here"]),
    }
    pipe = ExtractionPipeline(
        spark=spark,
        features=["text", "n_attachments", "attachment_names", "attachment"],
        codec=PdfCodec(),
    )
    return pipe.pages(docs).select(
        "path",
        "page",
        "text",
        "n_attachments",
        "attachment_names",
        F.sha2(F.col("attachment"), 256).alias("first_sha"),
    )


@query(
    "a25_jbig2_scan_extract",
    sql="""
    SELECT * FROM (VALUES
      ('scan_jb2.pdf', 1, '', 'JBIG2 SCAN 7' || CHR(10) || 'second line',
       'jbig2', true, 72, 20,
       '1db04368d7479aaf4838c4bc07bb0a748456770ac1db37559db8d5c504cc13d4'),
      ('mmr.pdf', 1, '', 'JBIG2 SCAN 7' || CHR(10) || 'second line',
       'jbig2', true, 72, 20,
       '7e03036f428cc04f38e98f0574d4aad3793a0be98f5e98584552d932d9ce893b'),
      ('hufftext.pdf', 1, '', 'JBIG2 SCAN 7' || CHR(10) || 'second line',
       'jbig2', true, 72, 20,
       '3d15f5137a799b405a62fc4000df58dfc3b0f49ba10a6d992eedb1975d36430b'),
      ('refine.pdf', 1, '', 'JBIG2 SCAN 7' || CHR(10) || 'second line',
       'jbig2', true, 72, 20,
       '05e9348f204a25dba663ec5b193040ff35c68481f48c6b12ee1db4c1e42bc9c5'),
      ('huffrefine.pdf', 1, '', 'JBIG2 SCAN 7' || CHR(10) || 'second line',
       'jbig2', true, 72, 20,
       'ee4926b1112bf1caca4307444cf42f3460b08b40707523df0b2c29e70eb578c5'),
      ('huffb710.pdf', 1, '', 'JBIG2 SCAN 7' || CHR(10) || 'second line',
       'jbig2', true, 72, 20,
       '3771f9b398d5903192671fc354c079bd709f2fe0792f8719816a98c494df4ca1'),
      ('hufftrueagg.pdf', 1, '', 'JBIG2 SCAN 7' || CHR(10) || 'second line',
       'jbig2', true, 72, 20,
       '5dc8ec2a6134f4b1f82121af267eed058d0075891f529218e2969023cc3d4d22'),
      ('huffaggdict.pdf', 1, '', 'JBIG2 SCAN 7' || CHR(10) || 'second line',
       'jbig2', true, 72, 20,
       '98d9a4c33c915f20b49e43b9a76749136c8290357aea3399fa9f3d3d4f606501'),
      ('agg.pdf', 1, '', '', 'jbig2', true, 44, 12,
       'cd30ae0e6ad8a637f9d4d4b3b886f03b11f94e72f4758d3f526c75f8fd3dff5c'),
      ('hskip.pdf', 1, '', '', 'jbig2', true, 56, 42,
       '95f895a03960beb95efb2cbee4e0c9ff30587930ec134d1b3e9e44098db8b502'),
      ('symtext.pdf', 1, '', '', 'jbig2', true, 50, 21,
       '8a64716eeaf115612d7aa513ee5d53a93e3adcd01364e300c0b41f3d9a21a844'),
      ('halftone.pdf', 1, '', '', 'jbig2', true, 56, 42,
       '56321aa1c68388c462a466b24621f41884d23fcd724cd2e31b93bc5beb41aef3'),
      ('huffman.pdf', 1, '', '', 'jbig2', false, 6, 10,
       '9d23e1f4bf105b9ac029f2cb65d3f8ecd1fbeb787eb9b5a58b37ace642d84305')
    ) t(path, page, text, ocr_text, fmt, dec, img_w, img_h, sha0)
    """,
    tier="A",
)
def a25_jbig2_scan_extract(spark, sf_dir):
    """JBIG2 (/JBIG2Decode) scanned-document extraction — the
    arithmetic bi-level codec real scanner pipelines emit (ITU-T
    T.88, decoded by sources/jbig2 with zero native deps). Four
    textless one-page fixtures exercise every decode regime plus the
    honest-failure surface:

    - ``scan_jb2.pdf``: the engine's own text raster as an
      arithmetic GENERIC region (template 0, TPGDON) — the scanned
      routing decodes it, the ``image`` feature re-encodes the
      decoded pixels as PNG (IHDR dims checked JVM-side) and grid
      OCR recovers the text exactly.
    - ``symtext.pdf``: a SYMBOL-CODED page (symbol dictionary +
      text region) whose dictionary travels in a /JBIG2Globals
      stream — the jbig2enc-style shape; glyph dims are not
      cell-aligned so OCR reports '' honestly.
    - ``mmr.pdf``: an MMR (T.6-coded) generic region — JBIG2's MMR
      mode routes through sources/ccitt and OCR again recovers the
      raster text.
    - ``halftone.pdf``: a pattern-dictionary + halftone-region page
      (Gray-coded grayscale bitplanes stamping dictionary patterns
      on the grid — the dithered-image mode).
    - ``hufftext.pdf``: the raster as a HUFFMAN-coded page
      (SDHUFF/SBHUFF=1, sources/jbig2_huffman): MMR collective
      bitmap, a CUSTOM width-delta table segment (7.4.13) in a
      /JBIG2Globals stream, runcode symbol IDs — the second entropy
      regime hardware encoders emit; OCR recovers the text exactly.
    - ``refine.pdf``: a REFINEMENT REGION page (§7.4.7, type 43):
      an immediate generic region carrying a deliberately corrupted
      base raster, then a page-buffer-referenced refinement (TPGRON)
      that must REPLACE the region (§8.2 — OR-composition could not
      clear the corrupted pixels); OCR recovers the text exactly,
      proving the lossy-then-lossless progressive path end-to-end.
    - ``huffrefine.pdf``: the HUFFMAN-REFINEMENT regime (§6.4.11,
      round-8 close of the last declared JBIG2 decline): the
      dictionary symbol is a CORRUPTED raster; the text region sets
      SBREFINE, the instance's raw RI bit is 1, RDW/RDH/RDX/RDY ride
      B.15 and BMSIZE B.1, and the byte-aligned embedded
      MQ-arithmetic refinement restores the TRUE bitmap — OCR
      recovering the text proves the refinement decoded (OR of the
      corrupt base could never clear flipped pixels).
    - ``huffaggdict.pdf``: the DICTIONARY flavor of the same regime
      (SDHUFF=1 + SDREFAGG=1, §6.5.8.2): dictionary 2's new symbol
      decodes as a refinement of dictionary 1's corrupted base
      (REFAGGNINST=1 via B.1, raw-bit pool ID, B.15 deltas, B.1
      BMSIZE, embedded MQ data) — the placed refined symbol IS the
      true raster, proven by exact OCR (Huffman TRUE aggregates
      decode too since round-9 — ``hufftrueagg.pdf`` below).
    - ``hskip.pdf``: the halftone grid shifted a full cell off the
      region origin with HENABLESKIP set (§6.6.5.1): the out-of-
      region cells' grayscale bits are genuinely absent from the MQ
      stream — a decoder ignoring HSKIP desynchronizes immediately.
    - ``agg.pdf``: TRUE AGGREGATE symbol coding (§6.5.8.2.2,
      REFAGGNINST of 3 and 2): dictionary-2 symbols decode as
      nested text regions compositing dictionary-1 glyphs with the
      dictionary's shared contexts; glyphs are not cell-aligned so
      OCR reports '' honestly.
    - ``huffman.pdf``: a grammar-valid Huffman dictionary whose body
      is TRUNCATED — surfaced as decodable=false (malformed) with
      the compressed payload kept.

    ``sha0`` is the sha256 of the FIRST embedded payload (the raw
    JBIG2 segment stream — the fixture encoder is deterministic),
    computed JVM-side from the binary feature column. Constant
    fixtures → golden value-hash oracle. huffb710's pin was
    re-pinned in round-10 when B.10 was corrected to the published
    T.88 transcription (the round-9 scaling-law derivation was
    wrong): the encoded stream changed, the decoded raster, dims
    and OCR text did not."""
    import random as _random
    import struct as _struct

    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources import jbig2, raster
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import build_pdf

    scan_text = "JBIG2 SCAN 7\nsecond line"
    w, h, px = raster._rasterize(scan_text)
    px = bytes(px)
    bitmap = [
        bytearray(1 if px[y * w + x] < 128 else 0 for x in range(w))
        for y in range(h)
    ]
    generic = jbig2.encode_generic_page(bitmap, template=0, tpgdon=True)
    mmr = jbig2.encode_generic_page(bitmap, mmr=True)
    _rrng = _random.Random(25)
    _lossy_base = [bytearray(r) for r in bitmap]
    for _ in range(40):
        _lossy_base[_rrng.randrange(h)][_rrng.randrange(w)] ^= 1
    refine = jbig2.encode_refinement_page(_lossy_base, bitmap,
                                          tpgron=True)
    _ga = [bytearray([1, 1, 1]), bytearray([1, 0, 1]),
           bytearray([1, 1, 1])]
    _gb = [bytearray([0, 1, 0]), bytearray([1, 1, 1]),
           bytearray([0, 1, 0])]
    aggdata = jbig2.encode_aggregate_page(
        [_ga, _gb],
        [(9, 6, [(0, 0, 0), (1, 4, 1), (0, 6, 2)]),
         (7, 4, [(1, 0, 0), (1, 4, 1)])],
        [(0, 1, 1), (2, 10, 2), (3, 22, 3), (1, 34, 1)],
        44, 12,
    )
    glyph_a = [bytearray([1, 1, 1]), bytearray([1, 0, 1]),
               bytearray([1, 1, 1])]
    glyph_b = [bytearray([0, 1, 0]), bytearray([1, 1, 1])]
    sw, sh = 50, 21  # NOT cell-aligned: grid OCR must decline
    symdata, symglobals = jbig2.encode_text_page(
        [glyph_a, glyph_b],
        [(0, 2, 2), (1, 12, 3), (0, 30, 9), (1, 44, 15)],
        sw, sh, split_globals=True,
    )
    hpats = []
    for k in range(4):  # density-ramp 7x7 patterns
        p = [bytearray(7) for _ in range(7)]
        for i in range(2 * k + 1):
            p[i % 7][(i * 3) % 7] = 1
        hpats.append(p)
    hvals = [[(m * 5 + n) % 4 for n in range(8)] for m in range(6)]
    halftone = jbig2.encode_halftone_page(hpats, hvals)
    hskip = jbig2.encode_halftone_page(hpats, hvals, hgx=-7 * 256,
                                       hgy=-7 * 256, enable_skip=True)
    huffdata, huffglobals = jbig2.encode_huffman_text_page(
        [bitmap], [(0, 0, 0)], w, h,
        collective="mmr", custom_dw=True, split_globals=True,
    )
    # B.7 (first-S) + B.10 (delta-S) selections (round-9: the two
    # standard tables that now ship): the raster travels as FOUR
    # quadrant symbols so both tables actually code deltas; the OR
    # of the placed quadrants reassembles the exact page, so OCR
    # recovering the text proves both tables decoded
    _hw, _hh = w // 2, h // 2
    _quads = [
        [bytearray(r[:_hw]) for r in bitmap[:_hh]],
        [bytearray(r[_hw:]) for r in bitmap[:_hh]],
        [bytearray(r[:_hw]) for r in bitmap[_hh:]],
        [bytearray(r[_hw:]) for r in bitmap[_hh:]],
    ]
    huffb710, _ = jbig2.encode_huffman_text_page(
        _quads,
        [(0, 0, 0), (1, _hw, 0), (2, 0, _hh), (3, _hw, _hh)],
        w, h, fs_sel=1, ds_sel=2,
    )
    # Huffman-REFINEMENT regime (round-8 close of the last declared
    # JBIG2 decline): the dictionary symbol is a CORRUPTED raster and
    # the single instance sets RI=1, arithmetically refining it back
    # to the TRUE bitmap — grid OCR recovering the text proves the
    # refinement decoded (OR-composition of the corrupt base alone
    # could never clear the flipped pixels)
    _hrng = _random.Random(825)
    _hr_base = [bytearray(r) for r in bitmap]
    for _ in range(40):
        _hr_base[_hrng.randrange(h)][_hrng.randrange(w)] ^= 1
    huffref, _ = jbig2.encode_huffman_text_page(
        [_hr_base], [(0, 0, 0)], w, h,
        refinements={0: (bitmap, 0, 0)},
    )
    # ... and the DICTIONARY flavor of the same regime (SDHUFF=1 +
    # SDREFAGG=1, §6.5.8.2): dictionary 2 refines a corrupted base
    # symbol from dictionary 1 back into the true raster, which the
    # text region then places — OCR again proves the refinement
    _drng = _random.Random(826)
    _dr_base = [bytearray(r) for r in bitmap]
    for _ in range(40):
        _dr_base[_drng.randrange(h)][_drng.randrange(w)] ^= 1
    huffaggd = jbig2.encode_huffman_refagg_page(
        [_dr_base], [(0, bitmap, 0, 0)], [(1, 0, 0)], w, h,
    )
    # ... and the TRUE-aggregate flavor (REFAGGNINST > 1, round-9):
    # the raster's left/right halves are dictionary-1 bases and the
    # aggregate symbol reassembles them as a nested Huffman text
    # region of two instances — OCR recovering the text proves the
    # §6.5.8.2.2 decode
    _aw = w // 2
    _halves = [[bytearray(r[:_aw]) for r in bitmap],
               [bytearray(r[_aw:]) for r in bitmap]]
    hufftrueagg = jbig2.encode_huffman_refagg_page(
        _halves, [("agg", w, h, [(0, 0, 0), (1, _aw, 0)])],
        [(2, 0, 0)], w, h,
    )
    # symbol dictionary with the Huffman flag but a truncated body:
    # grammar-valid, malformed payload
    page_info = (
        _struct.pack(">IIII", 8, 8, 0, 0) + bytes([0])
        + _struct.pack(">H", 0)
    )
    sd_body = _struct.pack(">H", 1)
    huffman = (
        jbig2._segment_header(0, jbig2.SEG_PAGE_INFO, 1, len(page_info))
        + page_info
        + jbig2._segment_header(1, jbig2.SEG_SYMBOL_DICT, 1, len(sd_body))
        + sd_body
    )
    docs = {
        "scan_jb2.pdf": build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": w, "height": h,
                     "data": generic, "bits": 1}],
        ),
        "mmr.pdf": build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": w, "height": h,
                     "data": mmr, "bits": 1}],
        ),
        "symtext.pdf": build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": sw, "height": sh,
                     "data": symdata, "globals": symglobals, "bits": 1}],
        ),
        "hufftext.pdf": build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": w, "height": h,
                     "data": huffdata, "globals": huffglobals,
                     "bits": 1}],
        ),
        "refine.pdf": build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": w, "height": h,
                     "data": refine, "bits": 1}],
        ),
        "huffrefine.pdf": build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": w, "height": h,
                     "data": huffref, "bits": 1}],
        ),
        "huffb710.pdf": build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": w, "height": h,
                     "data": huffb710, "bits": 1}],
        ),
        "huffaggdict.pdf": build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": w, "height": h,
                     "data": huffaggd, "bits": 1}],
        ),
        "hufftrueagg.pdf": build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": w, "height": h,
                     "data": hufftrueagg, "bits": 1}],
        ),
        "agg.pdf": build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": 44,
                     "height": 12, "data": aggdata, "bits": 1}],
        ),
        "hskip.pdf": build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": 56,
                     "height": 42, "data": hskip, "bits": 1}],
        ),
        "halftone.pdf": build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": 56, "height": 42,
                     "data": halftone, "bits": 1}],
        ),
        "huffman.pdf": build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": 8, "height": 8,
                     "data": huffman, "bits": 1}],
        ),
    }
    pipe = ExtractionPipeline(
        spark=spark,
        features=["text", "ocr", "image", "embedded_image",
                  "embedded_image_meta"],
        codec=PdfCodec(),
    )
    meta = F.col("embedded_image_meta")

    def ihdr_field(pos: int) -> F.Column:
        return F.conv(F.hex(F.substring(F.col("image"), pos, 4)), 16, 10).cast(
            "int"
        )

    return pipe.pages(docs).select(
        "path",
        "page",
        "text",
        F.col("ocr").alias("ocr_text"),
        F.get_json_object(meta, "$[0].format").alias("fmt"),
        F.get_json_object(meta, "$[0].decodable").cast("boolean").alias("dec"),
        ihdr_field(17).alias("img_w"),
        ihdr_field(21).alias("img_h"),
        F.lower(F.sha2(F.col("embedded_image"), 256)).alias("sha0"),
    )


@query(
    "a26_jpx_image_extract",
    sql="""
    SELECT * FROM (VALUES
      ('scan_jpx.pdf', 1, '', 'JPX SCAN 2000' || CHR(10) || 'second line',
       'jpx', true, 78, 20,
       'ca31869ceb679445879b47cc0b58fd560b88d68fb0e8dab42ff53de8c8c935c2'),
      ('jp2.pdf', 1, '', 'JPX SCAN 2000' || CHR(10) || 'second line',
       'jpx', true, 78, 20,
       'fadeb1b5865a559bc557c60c97d318bb4789a154060cd6392e0cd237e13d59c5'),
      ('tiled.pdf', 1, '', 'JPX SCAN 2000' || CHR(10) || 'second line',
       'jpx', true, 78, 20,
       'c54473ae56bc853ecfb8c42bbe3951a407c2a0f3de6029d6cec3d4bc4295c8e4'),
      ('layered.pdf', 1, '', 'JPX SCAN 2000' || CHR(10) || 'second line',
       'jpx', true, 78, 20,
       '280ebe8fe6bb5ea7cbea3b0e5d891c7f5c3dbed37922e6da99afaf20cac259f1'),
      ('precinct.pdf', 1, '',
       'JPX PRECINCT RPCL SCAN LINE' || CHR(10) || 'second line',
       'jpx', true, 162, 20,
       '7aace18d4c49c9a5cb3eee2ebd4f764b9d15870da44798a1ecbd25a686f22e0f'),
      ('bypass.pdf', 1, '', 'JPX SCAN 2000' || CHR(10) || 'second line',
       'jpx', true, 78, 20,
       'dca4c1be023d539cb666cbd8e2017ee092b3daa08a943c19e63518a087ecd6dd'),
      ('offcoc.pdf', 1, '',
       'JPX PRECINCT RPCL SCAN LINE' || CHR(10) || 'second line',
       'jpx', true, 162, 20,
       'd6628555fa7d2f71105b1b7be96faae9a51b7f31a734c5918d4d1f29abe11eda'),
      ('oddoff.pdf', 1, '',
       'JPX PRECINCT RPCL SCAN LINE' || CHR(10) || 'second line',
       'jpx', true, 162, 20,
       '8ada85394680aee245d6ff113f338a8b2049297426ee27438b508c78c2c3ac58'),
      ('smallblk.pdf', 1, '',
       'JPX PRECINCT RPCL SCAN LINE' || CHR(10) || 'second line',
       'jpx', true, 162, 20,
       '10471dd17c20d6f3b4057d30fa7900e41f6ed5b4c6833aa6284e11d2d73016fa'),
      ('roi.pdf', 1, '',
       'JPX PRECINCT RPCL SCAN LINE' || CHR(10) || 'second line',
       'jpx', true, 162, 20,
       '55b3dda0694609fbdfa4c0eeba9674c4bf1038f60dbe24700ef15d005ff87eec'),
      ('roioff.pdf', 1, '',
       'JPX PRECINCT RPCL SCAN LINE' || CHR(10) || 'second line',
       'jpx', true, 162, 20,
       '566aa68a367cffd4515711017ab922af77c080ebb9c4fe0c704109656da249d3'),
      ('cmyk_jpx.pdf', 1, '', 'JPX SCAN 2000' || CHR(10) || 'second line',
       'jpx', true, 78, 20,
       'bd0950ddf8788a792ac7b4ac8b1d45eb79db56d3236877a7a8a3877f39d67dba'),
      ('color_jpx.pdf', 1, '', '', 'jpx', true, 24, 18,
       'f1801a4ad36fabcb3329119ea4155748272ac4e54710ec0c0ebab536f486758f'),
      ('galpha_jpx.pdf', 1, '',
       'JPX SCAN 2000' || CHR(10) || 'second line', 'jpx', true, 78, 20,
       '879e368b4c7d590c2510123fe40fc4bed41b33ab5a01ef29e5d13ffc7d955942'),
      ('lossy.pdf', 1, '', '', 'jpx', false, 6, 10,
       'caa303b47f1e5349c255a8de973b1fea93caa309ade997467ad6b0955c91f751')
    ) t(path, page, text, ocr_text, fmt, dec, img_w, img_h, sha0)
    """,
    tier="A",
)
def a26_jpx_image_extract(spark, sf_dir):
    """JPEG 2000 (/JPXDecode) extraction — the last PDF image filter
    this engine decodes (ITU-T T.800 lossless subset, sources/jpx:
    5/3 reversible DWT + EBCOT tier-1 over the shared MQ coder +
    tag-tree tier-2 + RCT). Four textless one-page fixtures:

    - ``scan_jpx.pdf``: the engine's own text raster as a lossless
      raw codestream — scanned routing decodes it, the ``image``
      feature re-encodes the pixels as PNG (IHDR dims checked
      JVM-side) and grid OCR recovers the text exactly.
    - ``jp2.pdf``: the SAME raster wrapped in a JP2 container
      (signature/ftyp/jp2h boxes) — identical decode behavior.
    - ``tiled.pdf``: the SAME raster as a MULTI-TILE codestream
      (32x16 tiles, raster Isot order, SOP+EPH resync markers) —
      the shape real scanner codestreams carry; bit-identical
      reconstruction.
    - ``layered.pdf``: the SAME raster split across THREE quality
      layers in RLCP progression (per-precinct inclusion state
      spanning layer packets) — bit-identical reconstruction.
    - ``precinct.pdf``: a WIDER raster coded with NON-DEFAULT
      2^7 precincts in RPCL progression (COD Scod bit 0; the
      162-wide top resolution splits into two precincts, so the
      stream carries genuinely position-ordered multi-precinct
      packets with per-precinct tag trees, B.6/B.12) —
      bit-identical reconstruction, grid OCR exact.
    - ``bypass.pdf``: the SAME raster with SELECTIVE ARITHMETIC
      BYPASS (cbstyle LAZY, D.7): 9 bitplanes deep, so sig/mag
      passes from the 11th on ride RAW bit-stuffed segments
      alternating with terminated MQ cleanups, each separately
      length-signaled (B.10.7.4) — bit-identical reconstruction,
      grid OCR exact.
    - ``offcoc.pdf``: round-8 close of the last two JPX declines —
      CANVAS OFFSETS (XOsiz 8 / YOsiz 4 / XTOsiz 4: precinct and
      code-block grids anchor at the canvas origin per B.6/B.7, so
      tile 0's first windows are genuinely offset and its edge
      blocks partial) combined with a PER-TILE COC in tile 1's
      tile-part header (A.6.2: that tile decodes at depth 1 vs the
      COD's 2, with its own QCC), 2^7 precincts, RPCL order —
      bit-identical reconstruction, grid OCR exact.
    - ``oddoff.pdf``: round-10 close of the canvas-offset PHASE
      decline — fully ODD XOsiz/YOsiz (3, 5), NOT multiples of
      2^levels, shift the 5/3 lifting phase and every band
      origin/dimension (B-15) per tile-component; with 64x64
      tiles, 2^7 precincts, 2 layers, RPCL and SOP/EPH the
      anchoring is genuinely canvas-dependent — bit-identical
      reconstruction, grid OCR exact.
    - ``smallblk.pdf``: round-10 close of the code-block-size tail
      — SIGNALED 16x16 blocks (A.6.1) clamped further by 2^5
      precincts (B-17: effective size = min(xcb, PPx - 1) for
      r > 0, so small precincts SHRINK blocks instead of splitting
      them — the former named decline), RPCL + 2 layers +
      SOP/EPH — bit-identical reconstruction, grid OCR exact.
    - ``roi.pdf``: round-11 close of the non-maxshift ROI decline —
      a SCALING-BASED rectangle ROI (T.801 Srgn=1: the RGN segment
      signals SPrgn + the region; the decoder downshifts the
      dependency-closure band rects, _roi_band_rects) over the 2^7
      precinct RPCL raster — bit-identical reconstruction, grid OCR
      exact.
    - ``roioff.pdf``: the SAME scaling ROI at fully ODD canvas
      offsets (3, 5) with 64x64 tiles, 2 layers and SOP/EPH — the
      closure works in ABSOLUTE coordinates, so ROI composes with
      the phase machinery (late round-11; the short-lived
      interaction decline closed same-round) — bit-identical, OCR
      exact.
    - ``color_jpx.pdf``: an RGB gradient with the reversible color
      transform — decodable, luma-reduced by the scan route.
    - ``cmyk_jpx.pdf``: FOUR components, JP2 colr EnumCS 12 (the
      PDF/X print shape) with the raster in the K plane only — the
      un-profiled CMYK→RGB conversion (round-11) reconstructs the
      exact gray raster, so grid OCR pins the channel SEMANTICS,
      not just payload stability.
    - ``galpha_jpx.pdf``: TWO components (gray + opacity) — the
      color channel decodes, the alpha plane drops (round-11; the
      former 2-component decline), OCR exact.
    - ``lossy.pdf``: the COD transform byte flipped to 9/7 on a
      no-quantization stream — a MALFORMED regime mix (T.800 Table
      A.30 pairs no-quant with 5/3), surfaced as decodable=false
      with the payload kept.  Genuine lossy streams decode — see
      ``a27_lossy_jpx_extract``.

    ``sha0`` is the sha256 of the FIRST embedded payload (the raw
    /JPXDecode bytes — the fixture encoder is deterministic),
    computed JVM-side. Constant fixtures → golden value-hash
    oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources import raster
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.jpx import encode_jpx
    from pdf2dataset_spark.sources.minipdf import build_pdf

    scan_text = "JPX SCAN 2000\nsecond line"
    w, h, px = raster._rasterize(scan_text)
    px = bytes(px)
    raw = encode_jpx(w, h, px, 1, levels=3)
    jp2 = encode_jpx(w, h, px, 1, levels=3, jp2=True)
    tiled = encode_jpx(w, h, px, 1, levels=3, tile_size=(32, 16),
                       sop=True, eph=True)
    layered = encode_jpx(w, h, px, 1, levels=3, layers=3, prog=1)
    ptext = "JPX PRECINCT RPCL SCAN LINE\nsecond line"
    pw_, ph_, ppx_ = raster._rasterize(ptext)
    precinct = encode_jpx(pw_, ph_, bytes(ppx_), 1, levels=1, prog=2,
                          precincts=(7, 7))
    bypass = encode_jpx(w, h, px, 1, levels=3, bypass=True)
    # round-8 close of the last two JPX declines: CANVAS OFFSETS
    # (XOsiz/YOsiz/XTOsiz/YTOsiz — the precinct and code-block grids
    # anchor at the canvas origin, so tile 0's windows are genuinely
    # offset and partial) + a PER-TILE COC in tile 1's tile-part
    # header overriding the decomposition depth for that tile only;
    # 2^7 precincts make the misaligned grid real, RPCL orders the
    # position-dependent packets
    offcoc = encode_jpx(pw_, ph_, bytes(ppx_), 1, levels=2, prog=2,
                        image_offset=(8, 4), tile_offset=(4, 0),
                        tile_size=(128, 64), precincts=(7, 7),
                        tile_coc={1: {0: 1}})
    # round-10 close of the canvas-offset PHASE decline: fully ODD
    # XOsiz/YOsiz (3, 5) — origins not multiples of 2^levels shift
    # the 5/3 lifting phase and every band origin/dimension (B-15)
    # per tile; tiles + 2^7 precincts + 2 layers + SOP/EPH make the
    # anchoring genuinely canvas-dependent. Bit-exact, OCR-proven.
    oddoff = encode_jpx(pw_, ph_, bytes(ppx_), 1, levels=2, prog=2,
                        image_offset=(3, 5), tile_size=(64, 64),
                        precincts=(7, 7), layers=2, sop=True,
                        eph=True)
    # round-10 late close of the code-block-size tail: SIGNALED
    # 16x16 blocks (COD xcb/ycb = 4) CLAMPED further by 2^5
    # precincts to effective 16x16-at-r0 / 16x16-vs-2^4-band-cells
    # at r>0 (B-17) — per-precinct tag trees over a genuinely
    # multi-block grid; OCR proves the decode
    smallblk = encode_jpx(pw_, ph_, bytes(ppx_), 1, levels=2, prog=2,
                          cb_exp=(4, 4), precincts=(5, 5), layers=2,
                          sop=True, eph=True)
    # round-11 close of the non-maxshift ROI decline: scaling-based
    # rectangle ROI (T.801 Srgn=1) — region signaled in RGN, shift
    # encoder-chosen, geometric downshift at decode. Bit-exact,
    # OCR-proven.
    roipdf = encode_jpx(pw_, ph_, bytes(ppx_), 1, levels=2, prog=2,
                        precincts=(7, 7), roi=(10, 4, 80, 16),
                        roi_style=1, roi_shift=5)
    # late round-11: scaling ROI composes with odd canvas offsets —
    # the closure is absolute-coordinate (phase-invariant)
    roioff = encode_jpx(pw_, ph_, bytes(ppx_), 1, levels=2, prog=2,
                        precincts=(7, 7), roi=(10, 4, 80, 16),
                        roi_style=1, roi_shift=5, image_offset=(3, 5),
                        tile_size=(64, 64), layers=2, sop=True,
                        eph=True)
    cw, ch = 24, 18
    rgb = bytes(
        v
        for y in range(ch)
        for x in range(cw)
        for v in (x * 255 // (cw - 1), y * 255 // (ch - 1),
                  (x + y) * 255 // (cw + ch - 2))
    )
    color = encode_jpx(cw, ch, rgb, 3, levels=2)
    # CMYK (JP2 colr EnumCS 12, the PDF/X print shape): text lives in
    # the K plane only (k = 255 - gray), so the un-profiled CMYK→RGB
    # conversion reconstructs the exact raster and grid OCR proves
    # the channel semantics, not just byte stability
    cmyk = bytes(
        b for v in px for b in (0, 0, 0, 255 - v)
    )
    cmyk_jpx = encode_jpx(w, h, cmyk, 4, mct=False, levels=2,
                          jp2=True)
    # gray + opacity (2 components): the color channel IS the
    # raster; the opacity plane is a gradient the opaque-sample
    # output convention drops
    galpha = bytes(
        b
        for i, v in enumerate(px)
        for b in (v, (i * 7) % 256)
    )
    galpha_jpx = encode_jpx(w, h, galpha, 2, mct=False, levels=2,
                            jp2=True)
    lossy = bytearray(raw)
    cod_at = raw.index(b"\xff\x52")
    lossy[cod_at + 2 + 2 + 9] = 0  # transform byte → 9/7 irreversible
    docs = {
        "scan_jpx.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": w, "height": h,
                     "data": raw}],
        ),
        "jp2.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": w, "height": h,
                     "data": jp2}],
        ),
        "tiled.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": w, "height": h,
                     "data": tiled}],
        ),
        "layered.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": w, "height": h,
                     "data": layered}],
        ),
        "precinct.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": pw_,
                     "height": ph_, "data": precinct}],
        ),
        "bypass.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": w, "height": h,
                     "data": bypass}],
        ),
        "offcoc.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": pw_,
                     "height": ph_, "data": offcoc}],
        ),
        "oddoff.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": pw_,
                     "height": ph_, "data": oddoff}],
        ),
        "smallblk.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": pw_,
                     "height": ph_, "data": smallblk}],
        ),
        "roi.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": pw_,
                     "height": ph_, "data": roipdf}],
        ),
        "cmyk_jpx.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": w, "height": h,
                     "data": cmyk_jpx}],
        ),
        "galpha_jpx.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": w, "height": h,
                     "data": galpha_jpx}],
        ),
        "roioff.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": pw_,
                     "height": ph_, "data": roioff}],
        ),
        "color_jpx.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": cw, "height": ch,
                     "data": color, "colorspace": "/DeviceRGB"}],
        ),
        "lossy.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": w, "height": h,
                     "data": bytes(lossy)}],
        ),
    }
    pipe = ExtractionPipeline(
        spark=spark,
        features=["text", "ocr", "image", "embedded_image",
                  "embedded_image_meta"],
        codec=PdfCodec(),
    )
    meta = F.col("embedded_image_meta")

    def ihdr_field(pos: int) -> F.Column:
        return F.conv(F.hex(F.substring(F.col("image"), pos, 4)), 16, 10).cast(
            "int"
        )

    return pipe.pages(docs).select(
        "path",
        "page",
        "text",
        F.col("ocr").alias("ocr_text"),
        F.get_json_object(meta, "$[0].format").alias("fmt"),
        F.get_json_object(meta, "$[0].decodable").cast("boolean").alias("dec"),
        ihdr_field(17).alias("img_w"),
        ihdr_field(21).alias("img_h"),
        F.lower(F.sha2(F.col("embedded_image"), 256)).alias("sha0"),
    )


@query(
    "a27_lossy_jpx_extract",
    sql="""
    SELECT * FROM (VALUES
      ('lossy_scan.pdf', 1, '', 'JPX LOSSY 97' || CHR(10) || 'second line',
       'jpx', true, 72, 20,
       '5bb4f3eafcfb9696486c9a97ba17e7cb4b759aa324914bbd5b8c700520d384d8'),
      ('derived.pdf', 1, '', 'JPX LOSSY 97' || CHR(10) || 'second line',
       'jpx', true, 72, 20,
       '1d7c0bcb52ef5aa514a75651cbd84305939299d578d5872f4b3de56987ebaca0'),
      ('oddlossy.pdf', 1, '', 'JPX LOSSY 97' || CHR(10) || 'second line',
       'jpx', true, 72, 20,
       '1857acdbcb2dba64e3cc17f9fbb95bfc5fe449f8af8dac1ddf7916df83620e28'),
      ('color_lossy.pdf', 1, '', '', 'jpx', true, 24, 18,
       '0f75844626f6f091c890f838b7920dc79793ed747e645ebfe7d2f3a4bac4a992'),
      ('ycc420.pdf', 1, '', '', 'jpx', true, 24, 18,
       '1fce14b6c6871ecd938b99d417fb098c803c370335c6878bea0160a9f314dbfe'),
      ('oddycc.pdf', 1, '', '', 'jpx', true, 24, 18,
       '62240c16eeb7cdbf1239dc6c7d6284c412821deeb0a1a600a8f50be077d59706')
    ) t(path, page, text, ocr_text, fmt, dec, img_w, img_h, sha0)
    """,
    tier="A",
)
def a27_lossy_jpx_extract(spark, sf_dir):
    """LOSSY JPEG 2000 extraction — the 9/7 irreversible + scalar
    quantization regime real scanner/camera JPX payloads use (ITU-T
    T.800 Annex E/F/G; decoded by sources/jpx with the lifting
    implementation validated against the normative Table F.4
    convolution taps). Three textless one-page fixtures:

    - ``lossy_scan.pdf``: the engine's own text raster, 9/7-coded
      with expounded (QCD style 2) per-subband steps at 10 magnitude
      bits — the scanned routing decodes it and threshold-binarized
      grid OCR recovers the text exactly through the quantization
      loss.
    - ``derived.pdf``: the SAME raster with DERIVED (QCD style 1)
      quantization — one signaled LL step, per-level scaling done by
      the decoder (E-5).
    - ``oddlossy.pdf`` (round-10): the SAME raster with fully ODD
      canvas offsets (XOsiz/YOsiz 3/5) AND 48x16 tiles through the
      phase-aware 9/7 — odd per-tile origins shift the irreversible
      lifting phase and the B-15 band geometry; OCR recovering the
      text through the quantization loss proves the odd-phase lossy
      decode end-to-end (the reversible twin is a26 ``oddoff.pdf``).
    - ``color_lossy.pdf``: an RGB gradient through the forward ICT
      in a JP2 container — decodable, OCR declines honestly.
    - ``ycc420.pdf``: the SAME gradient as a 4:2:0 CHROMA-SUBSAMPLED
      sYCC JP2 (SIZ XRsiz/YRsiz 2x2 on Cb/Cr, external ICT with the
      colr box's EnumCS 18, MCT off — T.800 limits in-codestream MCT
      to equal separations) — THE shape real lossy scanner/camera
      payloads use; the decoder maps subsampled components onto the
      reference grid by replication (B.2) before the sYCC inverse.
    - ``oddycc.pdf`` (round-11, the former decline): the SAME 4:2:0
      sYCC gradient with ODD canvas offsets (XOsiz/YOsiz 3/1) and
      16x16 tiles — each component anchors at its own ceil-division
      origin (B.3), the 9/7 phase follows it, and the replication
      upsample maps the offset phase back.

    ``sha0`` is the sha256 of the FIRST embedded payload (the raw
    /JPXDecode bytes — encoder and float64 pipeline deterministic),
    computed JVM-side. Constant fixtures → golden value-hash
    oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources import raster
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.jpx import encode_jpx
    from pdf2dataset_spark.sources.minipdf import build_pdf

    scan_text = "JPX LOSSY 97\nsecond line"
    w, h, px = raster._rasterize(scan_text)
    px = bytes(px)
    lossy = encode_jpx(w, h, px, 1, levels=3, irreversible=True,
                       quality_bits=10)
    derived = encode_jpx(w, h, px, 1, levels=3, irreversible=True,
                         quant_style="derived", quality_bits=10)
    # round-10: the LOSSY path honors canvas offsets too — fully
    # odd XO/YO through the phase-aware 9/7 + B-15 geometry; OCR
    # recovering the text through the quantization loss proves the
    # odd-phase irreversible decode end-to-end
    oddlossy = encode_jpx(w, h, px, 1, levels=2, irreversible=True,
                          quality_bits=10, image_offset=(3, 5),
                          tile_size=(48, 16))
    cw, ch = 24, 18
    rgb = bytes(
        v
        for y in range(ch)
        for x in range(cw)
        for v in (x * 255 // (cw - 1), y * 255 // (ch - 1),
                  (x + y) * 255 // (cw + ch - 2))
    )
    color = encode_jpx(cw, ch, rgb, 3, levels=2, irreversible=True,
                       quality_bits=8, jp2=True)
    ycc420 = encode_jpx(cw, ch, rgb, 3, levels=2, irreversible=True,
                        quality_bits=9, mct=True, jp2=True,
                        subsampling=((1, 1), (2, 2), (2, 2)))
    # round-11: offsets compose with subsampling (per-component
    # ceil-division origins anchor the phase)
    oddycc = encode_jpx(cw, ch, rgb, 3, levels=2, irreversible=True,
                        quality_bits=9, mct=True, jp2=True,
                        subsampling=((1, 1), (2, 2), (2, 2)),
                        image_offset=(3, 1), tile_size=(16, 16))
    docs = {
        "lossy_scan.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": w, "height": h,
                     "data": lossy}],
        ),
        "derived.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": w, "height": h,
                     "data": derived}],
        ),
        "oddlossy.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": w, "height": h,
                     "data": oddlossy}],
        ),
        "color_lossy.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": cw, "height": ch,
                     "data": color}],
        ),
        "ycc420.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": cw, "height": ch,
                     "data": ycc420}],
        ),
        "oddycc.pdf": build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": cw, "height": ch,
                     "data": oddycc}],
        ),
    }
    pipe = ExtractionPipeline(
        spark=spark,
        features=["text", "ocr", "image", "embedded_image",
                  "embedded_image_meta"],
        codec=PdfCodec(),
    )
    meta = F.col("embedded_image_meta")

    def ihdr_field(pos: int) -> F.Column:
        return F.conv(F.hex(F.substring(F.col("image"), pos, 4)), 16, 10).cast(
            "int"
        )

    return pipe.pages(docs).select(
        "path",
        "page",
        "text",
        F.col("ocr").alias("ocr_text"),
        F.get_json_object(meta, "$[0].format").alias("fmt"),
        F.get_json_object(meta, "$[0].decodable").cast("boolean").alias("dec"),
        ihdr_field(17).alias("img_w"),
        ihdr_field(21).alias("img_h"),
        F.lower(F.sha2(F.col("embedded_image"), 256)).alias("sha0"),
    )


def _foreign_font_scan(text: str, w: int, h: int) -> bytes:
    """A scan in a FOREIGN font at the engine's exact cell geometry:
    same text, bit-INVERTED glyph patterns — every inked cell exists
    but matches no template, so honest OCR must return ''."""
    from pdf2dataset_spark.sources import raster

    px = bytearray(b"\xff" * (w * h))
    for li, line in enumerate(text.split("\n")):
        for ci, ch in enumerate(line):
            rows = raster.glyph_rows(ch)
            for r in range(raster.GLYPH_H):
                bits = (~rows[r]) & 0x1F
                for col in range(raster.GLYPH_W):
                    if bits & (1 << (raster.GLYPH_W - 1 - col)):
                        px[(li * raster.CELL_H + r) * w
                           + ci * raster.CELL_W + col] = 0
    return bytes(px)


@query(
    "a20_scanned_page_ocr",
    sql="""
    SELECT * FROM (VALUES
      ('scan_raw.pdf', 1, '', 'SCANNED PAGE 42' || CHR(10) || 'second line',
       90, 20),
      ('scan_prog.pdf', 1, '', 'SCANNED PAGE 42' || CHR(10) || 'second line',
       90, 20),
      ('scan_g4.pdf', 1, '', 'SCANNED PAGE 42' || CHR(10) || 'second line',
       90, 20),
      ('foreign.pdf', 1, '', '', 13, 7),
      ('foreignfont.pdf', 1, '', '', 90, 20),
      ('scan_2x.pdf', 1, '', 'SCANNED PAGE 42' || CHR(10) || 'second line',
       180, 40),
      ('text.pdf', 1, 'has a text layer', 'has a text layer', 96, 10)
    ) t(path, page, text, ocr_text, img_w, img_h)
    """,
    tier="A",
)
def a20_scanned_page_ocr(spark, sf_dir):
    """SCANNED-document routing (round-5 close of the what's-missing
    item — upstream's core real-world input): a page with NO text
    layer whose content is an embedded image. The ``image`` feature
    must yield the engine-DECODED embedded payload re-encoded as PNG
    (dims parsed from the IHDR JVM-side), and ``ocr`` runs over those
    decoded pixels. Fixtures: a raw-sample scan of the engine's own
    text raster (grid OCR reads it exactly), the SAME raster as a
    PROGRESSIVE JPEG scan (lossy — threshold binarization still
    recovers the text exactly), the SAME raster as a CCITT G4
    (/CCITTFaxDecode /K -1) scan — THE fax codec, decoded by
    sources/ccitt — a foreign 13x7 image (not cell-aligned → ocr ''
    honestly, image still the decoded scan), a FOREIGN-FONT scan at
    exactly cell-aligned dims (bit-inverted glyph shapes — the NCC
    honesty gate rejects every cell → '' instead of confabulated
    text: documented recall on foreign fonts is zero), a 2x
    RE-RASTERIZED scan of the engine raster (the multi-scale NCC
    matcher recovers it exactly), and a page WITH text + image
    (text-layer render keeps precedence). pytesseract, when
    installed, replaces the grid OCR over the same decoded image.
    Constant fixture → golden oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources import ccitt, raster
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.jpeg import encode_jpeg_progressive
    from pdf2dataset_spark.sources.minipdf import build_pdf

    scan_text = "SCANNED PAGE 42\nsecond line"
    w, h, px = raster._rasterize(scan_text)
    px = bytes(px)
    foreign = bytes((i * 37 + 11) % 256 for i in range(13 * 7))
    docs = {
        "scan_raw.pdf": build_pdf(
            [""], images=[{"width": w, "height": h, "data": px}]
        ),
        "scan_prog.pdf": build_pdf(
            [""],
            images=[{
                "filter": "/DCTDecode", "width": w, "height": h,
                "data": encode_jpeg_progressive(w, h, px, quality=90),
            }],
        ),
        "scan_g4.pdf": build_pdf(
            [""],
            images=[{
                "filter": "/CCITTFaxDecode", "width": w, "height": h,
                "data": ccitt.encode_g4(px, w, h), "bits": 1,
                "decode_parms": {"/K": -1, "/Columns": w, "/Rows": h},
            }],
        ),
        "foreign.pdf": build_pdf(
            [""], images=[{"width": 13, "height": 7, "data": foreign}]
        ),
        "foreignfont.pdf": build_pdf(
            [""],
            images=[{"width": w, "height": h, "data": _foreign_font_scan(
                scan_text, w, h)}],
        ),
        "scan_2x.pdf": build_pdf(
            [""],
            images=[{
                "width": 2 * w, "height": 2 * h,
                "data": bytes(
                    raster.resize_nearest(w, h, px, 2 * w, 2 * h)[2]
                ),
            }],
        ),
        "text.pdf": build_pdf(
            ["has a text layer"],
            images=[{"width": w, "height": h, "data": px}],
        ),
    }
    pipe = ExtractionPipeline(
        spark=spark, features=["text", "image", "ocr"], codec=PdfCodec()
    )
    pages = pipe.pages(docs)

    def ihdr_field(pos: int) -> F.Column:
        return F.conv(F.hex(F.substring(F.col("image"), pos, 4)), 16, 10).cast(
            "int"
        )

    return pages.select(
        "path",
        "page",
        "text",
        F.col("ocr").alias("ocr_text"),
        ihdr_field(17).alias("img_w"),
        ihdr_field(21).alias("img_h"),
    )


# --------------------------------------------------------------- A3
@query(
    "a3_parquet_scan",
    sql="""
    SELECT COUNT(*) AS n_rows,
           MIN(l_orderkey) AS min_key,
           MAX(l_orderkey) AS max_key,
           COUNT(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem
    """,
    tier="A",
)
def a3_parquet_scan(spark, sf_dir):
    """Parquet scan + footer-driven schema (A3): the resume/read path."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


# --------------------------------------------------------------- A4
@query(
    "a4_page_fanout",
    sql="""
    SELECT doc_id, unnest(generate_series(1, CAST(doc_id % 5 + 1 AS INTEGER))) AS page
    FROM documents
    """,
    tier="A",
)
def a4_page_fanout(spark, sf_dir):
    """Doc→page fan-out (A4), relational analog: explode a per-doc
    page sequence (n_pages = doc_id % 5 + 1). The production path is
    the fused mapInArrow in operators/features.py; this proves the
    pure-relational expansion Catalyst sees."""
    d = t(spark, sf_dir, "documents")
    n_pages = (F.col("doc_id") % 5 + 1).cast("int")
    return d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), n_pages)).alias("page"),
    )


# --------------------------------------------------------------- A8
@query(
    "a8_error_capture",
    sql="""
    SELECT c_custkey,
           CASE WHEN c_acctbal >= 0 THEN sqrt(c_acctbal) END AS sqrt_bal,
           CASE WHEN c_acctbal < 0 THEN 'negative balance' END AS error
    FROM customer
    """,
    tier="A",
)
def a8_error_capture(spark, sf_dir):
    """Per-row error capture analog (A8): guarded computation keeps
    the row and fills an error column instead of failing — the same
    contract the feature UDFs implement for tracebacks."""
    c = t(spark, sf_dir, "customer")
    ok = F.col("c_acctbal") >= 0
    return c.select(
        "c_custkey",
        F.when(ok, F.sqrt("c_acctbal")).alias("sqrt_bal"),
        F.when(~ok, F.lit("negative balance")).alias("error"),
    )


# --------------------------------------------------------------- A9
@query(
    "a9_resume_antijoin",
    sql="""
    WITH tasks AS (
      SELECT doc_id, unnest(generate_series(1, CAST(doc_id % 5 + 1 AS INTEGER))) AS page
      FROM documents
    ),
    done AS (SELECT doc_id, page FROM tasks WHERE (doc_id * 7 + page) % 3 = 0)
    SELECT t.doc_id, t.page
    FROM tasks t
    WHERE NOT EXISTS (SELECT 1 FROM done d
                      WHERE d.doc_id = t.doc_id AND d.page = t.page)
    """,
    tier="A",
)
def a9_resume_antijoin(spark, sf_dir):
    """Resume / skip-processed (A9): pending = tasks ANTI JOIN done —
    the exact plan shape operators/resume.py uses against a real sink."""
    from pdf2dataset_spark.operators.resume import resume_filter

    d = t(spark, sf_dir, "documents")
    tasks = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), (F.col("doc_id") % 5 + 1).cast("int"))
        ).alias("page"),
    )
    done = tasks.filter((F.col("doc_id") * 7 + F.col("page")) % 3 == 0)
    return resume_filter(tasks, done, ["doc_id", "page"])


# --------------------------------------------------------------- A12
@query(
    "a12_chunk_concat",
    sql="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM (
      SELECT l_quantity FROM lineitem WHERE l_orderkey % 2 = 0
      UNION ALL
      SELECT l_quantity FROM lineitem WHERE l_orderkey % 2 = 1
    )
    """,
    tier="A",
)
def a12_chunk_concat(spark, sf_dir):
    """Chunk concat (A12): union of chunk DataFrames reassembles the
    whole dataset losslessly (the sink-side invariant of A10)."""
    li = t(spark, sf_dir, "lineitem")
    even = li.filter(F.col("l_orderkey") % 2 == 0).select("l_quantity")
    odd = li.filter(F.col("l_orderkey") % 2 == 1).select("l_quantity")
    both = even.unionByName(odd)
    return both.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
    )


# --------------------------------------------------------------- A15
@query(
    "a15_pipeline_composition",
    sql=r"""
    SELECT path, page, n_tokens,
           sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS text_sha256
    FROM (VALUES
      ('a.pdf', 1, 7, 'spark query engine with enough words here'),
      ('a.pdf', 2, 4, 'second page text body')
    ) t(path, page, n_tokens, text)
    """,
    tier="A",
)
def a15_pipeline_composition(spark, sf_dir):
    """The actual use-case, end to end in ONE lazy plan: extract
    (fused fan-out + features + error capture) → drop error rows →
    quality filter → exact dedup → per-doc token stats. Every stage
    is the operator the registry checks individually; this proves
    they compose without materialization barriers (zero actions until
    the driver collects)."""
    from pyspark.sql import functions as F

    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.operators.dedup import exact_dedup
    from pdf2dataset_spark.operators.text import quality_filter

    docs = {
        "a.pdf": "spark query engine with enough words here\fsecond page text body".encode(),
        "b.pdf": "spark query engine with enough words here".encode(),  # dup of a p1
        "c.pdf": "tiny".encode(),  # fails quality filter
        "bad.pdf": b"\xff\xfe",  # error row
    }
    pages = ExtractionPipeline(spark=spark, features=["text"]).pages(docs)
    ok = pages.filter(F.col("error").isNull()).withColumn(
        "doc_key", F.concat_ws("#", "path", F.col("page").cast("string"))
    )
    good = quality_filter(ok, min_tokens=4, min_mean_token_len=1.0)
    deduped = exact_dedup(good, text_col="text", order_col="doc_key")
    return deduped.select(
        "path", "page", F.col("q_n_tokens").alias("n_tokens"), "text_sha256"
    )


def _content_pdf(
    content: bytes, page_extra: bytes = b"", pages_extra: bytes = b""
) -> bytes:
    """One-page PDF around a raw content stream (layout fixtures).
    ``page_extra`` / ``pages_extra`` splice raw dict entries into the
    /Page and /Pages nodes — how the /Rotate-attribute and
    inherited-/MediaBox fixtures are authored."""
    return _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 " + pages_extra + b">>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        + page_extra + b">>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
    ])


def _layout_fixtures() -> dict:
    """The a28 corpus: content streams whose STREAM order differs
    from READING order — the pdftotext-parity divergences."""
    # two columns, stream order interleaved row by row
    rows = [
        (72, 700, b"left one"), (300, 700, b"right one"),
        (72, 686, b"left two"), (300, 686, b"right two"),
        (72, 672, b"left three"), (300, 672, b"right three"),
    ]
    two = [b"BT", b"/F1 12 Tf"]
    for x, y, s in rows:
        two += [b"1 0 0 1 %d %d Tm" % (x, y), b"(" + s + b") Tj"]
    two.append(b"ET")
    # single column emitted bottom-up (Tm jumps, not line advances)
    ooo = [
        b"BT", b"/F1 12 Tf",
        b"1 0 0 1 72 672 Tm", b"(line three) Tj",
        b"1 0 0 1 72 700 Tm", b"(line one) Tj",
        b"1 0 0 1 72 686 Tm", b"(line two) Tj",
        b"ET",
    ]
    # TJ kerning: -30/1000 em is a kern (no break), -250 a word gap
    kern = [
        b"BT", b"/F1 12 Tf", b"1 0 0 1 72 700 Td",
        b"[(Hel) -30 (lo) -250 (world)] TJ",
        b"0 -14 Td",
        b"[(kerned) -290 (TJ) -35 (text)] TJ",
        b"ET",
    ]
    # spanning title over a two-column body (XY-cut composition:
    # horizontal band first, then the column gutter inside the body)
    titled = [b"BT", b"/F1 14 Tf", b"1 0 0 1 72 740 Tm",
              b"(Spanning Title Here Goes Quite Wide Indeed) Tj",
              b"/F1 12 Tf"]
    for x, y, s in rows:
        titled += [b"1 0 0 1 %d %d Tm" % (x, y), b"(" + s + b") Tj"]
    titled.append(b"ET")
    # 90-degree-rotated page (text direction up-page): the dominant-
    # orientation vote maps it back to its reading frame — first line
    # at SMALLER device x (its reading y-axis is device -x)
    rot = [
        b"BT", b"/F1 12 Tf",
        b"0 1 -1 0 500 100 Tm", b"(rotated second) Tj",
        b"0 1 -1 0 486 100 Tm", b"(rotated first) Tj",
        b"ET",
    ]
    # /Rotate-ATTRIBUTE page (distinct from the content-rotated one):
    # normal text matrices, /Rotate 90 INHERITED from the /Pages node
    # (ISO 32000-1 Table 30) — poppler's dominant-rotation
    # normalization reads it exactly like the unrotated page
    attr = [
        b"BT", b"/F1 12 Tf",
        b"1 0 0 1 72 700 Tm", b"(attr first) Tj",
        b"1 0 0 1 72 686 Tm", b"(attr second) Tj",
        b"ET",
    ]
    return {
        "kerned.pdf": _content_pdf(b"\n".join(kern)),
        "outoforder.pdf": _content_pdf(b"\n".join(ooo)),
        "rotattr.pdf": _content_pdf(
            b"\n".join(attr),
            pages_extra=b"/Rotate 90 /MediaBox [0 0 612 792] ",
        ),
        "rotated.pdf": _content_pdf(b"\n".join(rot)),
        "titled.pdf": _content_pdf(b"\n".join(titled)),
        "twocol.pdf": _content_pdf(b"\n".join(two)),
    }


@query(
    "a28_layout_order_extract",
    sql="""
    SELECT * FROM (VALUES
      ('kerned.pdf', 1,
       'Hello world' || chr(10) || 'kerned TJtext', false),
      ('outoforder.pdf', 1,
       'line one' || chr(10) || 'line two' || chr(10) || 'line three',
       false),
      ('rotattr.pdf', 1,
       'attr first' || chr(10) || 'attr second', false),
      ('rotated.pdf', 1,
       'rotated first' || chr(10) || 'rotated second', false),
      ('titled.pdf', 1,
       'Spanning Title Here Goes Quite Wide Indeed' || chr(10) ||
       'left one' || chr(10) || 'left two' || chr(10) ||
       'left three' || chr(10) || 'right one' || chr(10) ||
       'right two' || chr(10) || 'right three', false),
      ('twocol.pdf', 1,
       'left one' || chr(10) || 'left two' || chr(10) ||
       'left three' || chr(10) || 'right one' || chr(10) ||
       'right two' || chr(10) || 'right three', false)
    ) t(path, page, text, has_error)
    """,
    tier="A",
)
def a28_layout_order_extract(spark, sf_dir):
    """Layout-aware READING-ORDER extraction (A5 fidelity, pdftotext
    parity): the text-positioning state machine places every show op
    in device space and a recursive XY-cut orders the runs — the
    two-column page comes out column by column (not stream-
    interleaved), the bottom-up stream comes out top-down, large
    negative TJ kerning becomes word breaks while small kerns join,
    and a spanning title emits before both body columns
    (sources/minipdf.content_text_layout, the PdfCodec default).
    rotattr.pdf pins the INHERITABLE /Rotate attribute (on the /Pages
    node, ISO 32000-1 Table 30): a /Rotate 90 page with normal text
    matrices reads exactly like the unrotated page, poppler's
    dominant-rotation normalization (minipdf.page_rotation,
    _rotate_runs). Env-gated poppler differential over these exact
    fixtures: tests/test_pdftotext_differential.py (word conservation
    exact; two-column order compared per-column — divergence
    tolerances documented there)."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec

    pipe = ExtractionPipeline(spark=spark, features=["text"], codec=PdfCodec())
    pages = pipe.pages(_layout_fixtures())
    return pages.select(
        "path", "page", "text", F.col("error").isNotNull().alias("has_error")
    )


@query(
    "a29_word_boxes_extract",
    sql="""
    SELECT * FROM (VALUES
      ('boxes.pdf', 1, 1, 'alpha', 72.0, 700.0, 102.0, 712.0),
      ('boxes.pdf', 1, 2, 'beta',  150.0, 700.0, 174.0, 712.0),
      ('boxes.pdf', 1, 3, 'one',   300.0, 700.0, 318.0, 712.0),
      ('boxes.pdf', 1, 4, 'two',   324.0, 700.0, 342.0, 712.0),
      ('boxes.pdf', 1, 5, 'gamma', 72.0, 686.0, 102.0, 698.0),
      ('rotbox.pdf', 1, 1, 'rot',   60.0, 34.0, 78.0, 46.0),
      ('rotbox.pdf', 1, 2, 'beta',  84.0, 34.0, 108.0, 46.0),
      ('rotbox.pdf', 1, 3, 'rot',   60.0, 20.0, 78.0, 32.0),
      ('rotbox.pdf', 1, 4, 'alpha', 84.0, 20.0, 114.0, 32.0)
    ) t(path, page, word_idx, word, x0, y0, x1, y1)
    """,
    tier="A",
)
def a29_word_boxes_extract(spark, sf_dir):
    """Word-level boxes (pdftotext -bbox parity, A5 fidelity): every
    whitespace-delimited word with its device-space baseline box, in
    reading order — run starts EXACT from the positioning operators,
    intra-run offsets the engine's deterministic 0.5 em/char advance.
    The `word_boxes` feature emits a JSON array per page (flat page
    schema); this query explodes it JVM-side with from_json +
    posexplode — zero Python in the explode path
    (minipdf.content_word_boxes, features.word_boxes_feature).
    rotbox.pdf pins /Rotate + INHERITED /MediaBox geometry: a
    400x300 box inherited from the /Pages node, page /Rotate 90, and
    up-page text matrices (the scanner convention) — boxes land in
    the DISPLAYED frame ((u,v) -> (v, W-u), so the box offsets
    depend on the inherited MediaBox width), upright reading order,
    all coordinates positive. Env-gated pdftotext -bbox differential:
    tests/test_pdftotext_differential.py (known divergences as
    documented tolerances: x1 from the 0.5 em/char estimate, y edges
    from baseline-box vs ink-extent conventions)."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec

    ops = [
        b"BT", b"/F1 12 Tf",
        b"1 0 0 1 72 700 Tm", b"(alpha) Tj",
        b"1 0 0 1 150 700 Tm", b"(beta) Tj",
        b"1 0 0 1 300 700 Tm", b"(one two) Tj",
        b"1 0 0 1 72 686 Tm", b"(gamma) Tj",
        b"ET",
    ]
    rb = [
        b"BT", b"/F1 12 Tf",
        b"0 1 -1 0 380 60 Tm", b"(rot alpha) Tj",
        b"0 1 -1 0 366 60 Tm", b"(rot beta) Tj",
        b"ET",
    ]
    docs = {
        "boxes.pdf": _content_pdf(b"\n".join(ops)),
        "rotbox.pdf": _content_pdf(
            b"\n".join(rb),
            pages_extra=b"/MediaBox [0 0 400 300] ",
            page_extra=b"/Rotate 90 ",
        ),
    }
    pipe = ExtractionPipeline(
        spark=spark, features=["word_boxes"], codec=PdfCodec()
    )
    pages = pipe.pages(docs)
    schema = ("array<struct<word:string,x0:double,y0:double,"
              "x1:double,y1:double>>")
    exploded = pages.select(
        "path",
        "page",
        F.posexplode(F.from_json("word_boxes", schema)).alias("pos", "b"),
    )
    return exploded.select(
        "path",
        "page",
        (F.col("pos") + 1).cast("int").alias("word_idx"),
        F.col("b.word").alias("word"),
        F.col("b.x0").alias("x0"),
        F.col("b.y0").alias("y0"),
        F.col("b.x1").alias("x1"),
        F.col("b.y1").alias("y1"),
    )


@query(
    "a30_paragraph_extract",
    sql="""
    SELECT * FROM (VALUES
      ('paras.pdf', 1, 1, 'Heading Of The Document'),
      ('paras.pdf', 1, 2,
       'para one line a para one line b para one line c'),
      ('paras.pdf', 1, 3, 'para two line a para two line b'),
      ('twocol.pdf', 1, 1, 'left one left two left three'),
      ('twocol.pdf', 1, 2, 'right one right two right three')
    ) t(path, page, para_idx, paragraph)
    """,
    tier="A",
)
def a30_paragraph_extract(spark, sf_dir):
    """Layout-aware PARAGRAPH segmentation (A5 fidelity — the
    chunking unit a training pipeline consumes): reading-order lines
    reflow into paragraphs, split at blank-line-sized vertical gaps
    (> 1.8x the median line advance) and at column/section jumps.
    Fixtures: a heading + two body paragraphs (gap-split), and the
    a28 two-column page (each column = one paragraph). The
    `paragraphs` feature emits a JSON array per page; exploded
    JVM-side (minipdf.content_paragraphs,
    features.paragraphs_feature)."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec

    ops = [b"BT", b"/F1 14 Tf",
           b"1 0 0 1 72 742 Tm", b"(Heading Of The Document) Tj",
           b"/F1 12 Tf"]
    for y, t in [(712, b"para one line a"), (698, b"para one line b"),
                 (684, b"para one line c"),
                 (656, b"para two line a"), (642, b"para two line b")]:
        ops += [b"1 0 0 1 72 %d Tm" % y, b"(" + t + b") Tj"]
    ops.append(b"ET")
    docs = {
        "paras.pdf": _content_pdf(b"\n".join(ops)),
        "twocol.pdf": _layout_fixtures()["twocol.pdf"],
    }
    pipe = ExtractionPipeline(
        spark=spark, features=["paragraphs"], codec=PdfCodec()
    )
    pages = pipe.pages(docs)
    return pages.select(
        "path",
        "page",
        F.posexplode(
            F.from_json("paragraphs", "array<string>")
        ).alias("pos", "paragraph"),
    ).select(
        "path",
        "page",
        (F.col("pos") + 1).cast("int").alias("para_idx"),
        "paragraph",
    )


# --------------------------------------------------------------- A31
def _structural_fixtures() -> dict:
    """Third-party STRUCTURAL file layouts (round 7) — the shapes
    real-world writers produce that build_pdf (single xref table, no
    revisions) never does. Byte-twins of the corpus in
    tests/test_pdf_structures.py; parity contract = the
    last-definition-wins object scan (sources/minipdf.py _scan) and
    ObjStm expansion never depend on xref bookkeeping."""
    import zlib

    def content(text: bytes) -> bytes:
        return b"BT /F1 12 Tf 72 700 Td (" + text + b") Tj ET"

    def stream_obj(num: int, sdict: bytes, data: bytes) -> bytes:
        return (b"%d 0 obj\n" % num + sdict + b"\nstream\n" + data
                + b"\nendstream\nendobj\n")

    def objstm(num: int, members, extends: int | None = None) -> bytes:
        header = body = b""
        for onum, obody in members:
            header += b"%d %d " % (onum, len(body))
            body += obody + b" "
        payload = zlib.compress(header + body)
        ext = b" /Extends %d 0 R" % extends if extends else b""
        return stream_obj(
            num,
            b"<< /Type /ObjStm /N %d /First %d /Length %d"
            b" /Filter /FlateDecode%s >>"
            % (len(members), len(header), len(payload), ext),
            payload,
        )

    # 1) incremental update: original says "draft", an appended
    # revision with its own xref + /Prev trailer replaces the content
    # stream — the newest definition must win
    c0 = content(b"draft body")
    base = bytearray(b"%PDF-1.4\n")
    offs = {}
    for num, body in [
        (1, b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"),
        (2, b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"),
        (3, b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
            b"\nendobj\n"),
        (4, stream_obj(4, b"<< /Length %d >>" % len(c0), c0)),
    ]:
        offs[num] = len(base)
        base += body
    prev_xref = len(base)
    base += b"xref\n0 5\n0000000000 65535 f \n"
    for i in range(1, 5):
        base += b"%010d 00000 n \n" % offs[i]
    base += b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % prev_xref
    c1 = content(b"final body")
    upd_off = len(base)
    base += stream_obj(4, b"<< /Length %d >>" % len(c1), c1)
    sx = len(base)
    base += (b"xref\n0 1\n0000000000 65535 f \n4 1\n%010d 00000 n \n"
             % upd_off)
    base += (b"trailer\n<< /Size 5 /Root 1 0 R /Prev %d >>\n"
             b"startxref\n%d\n%%%%EOF\n" % (prev_xref, sx))
    incremental = bytes(base)

    # 2) chained object streams + xref STREAM (PDF 1.5 layout):
    # catalog+pages in one ObjStm, the page dict in a second that
    # /Extends the first; no classic table at all
    c2 = content(b"objstm chain body")
    out = bytearray(b"%PDF-1.5\n")
    o4 = len(out); out += stream_obj(4, b"<< /Length %d >>" % len(c2), c2)
    o5 = len(out)
    out += objstm(5, [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
    ])
    o6 = len(out)
    out += objstm(
        6, [(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")],
        extends=5,
    )
    entries = {1: (2, 5, 0), 2: (2, 5, 1), 3: (2, 6, 0),
               4: (1, o4, 0), 5: (1, o5, 0), 6: (1, o6, 0),
               7: (1, len(out), 0)}
    data = b"".join(
        bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
        for t, f2, f3 in (entries[n] for n in sorted(entries))
    )
    payload = zlib.compress(data)
    sx = len(out)
    out += stream_obj(
        7,
        b"<< /Type /XRef /W [1 4 2] /Index [1 7] /Size 8 /Root 1 0 R"
        b" /Filter /FlateDecode /Length %d >>" % len(payload),
        payload,
    )
    out += b"startxref\n%d\n%%%%EOF\n" % sx
    chained = bytes(out)

    # 3) linearized layout: linearization dict first, first-page
    # objects (high numbers) at the head, document objects after
    c3 = content(b"linearized body")
    out = bytearray(b"%PDF-1.4\n")
    out += (b"7 0 obj\n<< /Linearized 1 /L 0 /H [0 0] /O 5 /E 0 /N 1"
            b" /T 0 >>\nendobj\n")
    out += b"5 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\nendobj\n"
    out += stream_obj(6, b"<< /Length %d >>" % len(c3), c3)
    out += b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    out += b"2 0 obj\n<< /Type /Pages /Kids [5 0 R] /Count 1 >>\nendobj\n"
    out += b"trailer\n<< /Size 8 /Root 1 0 R >>\n%%EOF\n"
    linearized = bytes(out)

    return {
        "chainedobjstm.pdf": chained,
        "incremental.pdf": incremental,
        "linearized.pdf": linearized,
    }


@query(
    "a31_structural_pdf_extract",
    sql="""
    SELECT * FROM (VALUES
      ('chainedobjstm.pdf', 1, 'objstm chain body', false),
      ('incremental.pdf', 1, 'final body', false),
      ('linearized.pdf', 1, 'linearized body', false)
    ) t(path, page, text, has_error)
    """,
    tier="A",
)
def a31_structural_pdf_extract(spark, sf_dir):
    """Third-party STRUCTURAL layouts through the real pipeline
    (round 7): an incremental update whose appended revision (own
    xref section, /Prev trailer chain) must supersede the original
    content stream; page-tree objects spread across CHAINED
    (/Extends) object streams indexed only by an xref STREAM (no
    classic table anywhere); and a linearized file (first-page
    objects first, high object numbers at the head). The engine's
    contract is the last-definition-wins byte scan + ObjStm
    expansion, so extraction is xref-independent — exactly what makes
    damaged/exotic real-world files recoverable. Fixture twins +
    truncation/bit-flip fuzz: tests/test_pdf_structures.py."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec

    pipe = ExtractionPipeline(spark=spark, features=["text"], codec=PdfCodec())
    pages = pipe.pages(_structural_fixtures())
    return pages.select(
        "path", "page", "text", F.col("error").isNotNull().alias("has_error")
    )


# --------------------------------------------------------------- A32
@query(
    "a32_form_xobject_extract",
    sql="""
    SELECT * FROM (VALUES
      ('letterhead.pdf', 1,
       'ACME CORP LETTERHEAD' || chr(10) || 'body paragraph text',
       false),
      ('nestedform.pdf', 1,
       'outer stamp' || chr(10) || 'inner nested text' || chr(10) ||
       'page content line', false)
    ) t(path, page, text, has_error)
    """,
    tier="A",
)
def a32_form_xobject_extract(spark, sf_dir):
    """Text inside /Form XObjects through the real pipeline (round
    7): letterheads, stamps and scanner OCR layers are routinely Form
    XObjects invoked by ``Do`` — poppler extracts their text, so the
    engine does too (minipdf.PdfDocument.page_forms + the Do
    recursion in _text_runs/content_text: /Matrix composes into the
    CTM, the form's own fonts merge over the page's, graphics/text
    state restores after the invocation, cycles and depth are
    guarded). letterhead.pdf places a header form above body text —
    reading order emits it first by position; nestedform.pdf chains
    Do two levels deep (outer stamp form invoking an inner form),
    each level anchored by its composed CTM. Fixture twins + cycle/
    state-restore laws: tests/test_minipdf.py TestFormXObjectText."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec

    def form(num: int, content: bytes, extra: bytes = b"") -> bytes:
        return (b"<< /Type /XObject /Subtype /Form /BBox [0 0 400 40] "
                + extra + b"/Length " + str(len(content)).encode()
                + b" >>\nstream\n" + content + b"\nendstream")

    head = b"BT /F1 14 Tf 0 0 Td (ACME CORP LETTERHEAD) Tj ET"
    body = (b"BT /F1 12 Tf 72 600 Td (body paragraph text) Tj ET\n"
            b"q 1 0 0 1 72 740 cm /Fo1 Do Q")
    letterhead = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /XObject << "
        b"/Fo1 5 0 R >> >> >>",
        b"<< /Length " + str(len(body)).encode() + b" >>\nstream\n"
        + body + b"\nendstream",
        form(5, head),
    ])
    inner = b"BT /F1 11 Tf 0 0 Td (inner nested text) Tj ET"
    outer = (b"BT /F1 12 Tf 0 20 Td (outer stamp) Tj ET\n"
             b"q 1 0 0 1 0 -40 cm /In0 Do Q")
    page = (b"BT /F1 12 Tf 72 600 Td (page content line) Tj ET\n"
            b"q 1 0 0 1 72 700 cm /Fo1 Do Q")
    nested = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /XObject << "
        b"/Fo1 5 0 R >> >> >>",
        b"<< /Length " + str(len(page)).encode() + b" >>\nstream\n"
        + page + b"\nendstream",
        form(5, outer,
             extra=b"/Resources << /XObject << /In0 6 0 R >> >> "),
        form(6, inner),
    ])
    docs = {"letterhead.pdf": letterhead, "nestedform.pdf": nested}
    pipe = ExtractionPipeline(spark=spark, features=["text"], codec=PdfCodec())
    return pipe.pages(docs).select(
        "path", "page", "text", F.col("error").isNotNull().alias("has_error")
    )


# --------------------------------------------------------------- A33
def _shading_fixtures() -> dict:
    """The a33 corpus: the round-8 shading rasterizers.

    - ``diag.pdf``: axial shading on a DIAGONAL axis (declined by
      name until round 8) — per-pixel masked patch, level lines
      perpendicular to the axis in user space
      (codecs.PdfCodec._axial_patch).
    - ``mesh4.pdf``: free-form Gouraud triangle mesh
      (/ShadingType 4) with a flag-1 strip continuation
      (codecs.PdfCodec._mesh_patch).
    - ``lattice5.pdf``: lattice-form mesh (/ShadingType 5) UNDER two
      overlapping radial shadings whose unpainted pixels are
      transparent — pins the stream-order mask compositing.
    - ``coons.pdf``: Coons patch mesh (/ShadingType 6) with a curved
      (Bezier-bulged) bottom edge and four distinct corner colors —
      pins the Coons-surface tessellation
      (codecs.PdfCodec._mesh_patch types 6/7).
    - ``coonsflags.pdf`` (round-9): a four-patch Coons mesh chained
      with EDGE-SHARING continuation flags 1, 2 and 3 (ISO 32000-1
      §8.7.4.5.7 Table 85) — each record reuses its predecessor's
      edge control points and edge colors as p1-p4/c1-c2.
    - ``calcshade.pdf`` (round-9): a /FunctionType 4 CALCULATOR
      function-based shading — the budgeted-lattice + bilinear
      fallback (codecs._function_patch_generic) that replaced the
      per-pixel-calculator decline.
    - ``func.pdf``: function-based shading (/ShadingType 1) with a
      2-in sampled function through /Matrix — with the other four
      this pins ALL SEVEN ShadingTypes end-to-end
      (codecs.PdfCodec._function_patch).
    """
    import struct

    diag = _content_pdf(
        b"BT /F1 12 Tf 72 700 Td (diagonal gradient) Tj ET\n"
        b"q 150 150 200 200 re W n /Sh0 sh Q",
        page_extra=(
            b"/MediaBox [0 0 612 792] /Resources << /Shading << /Sh0 << "
            b"/ShadingType 2 /Coords [150 150 350 350] "
            b"/Function << /FunctionType 2 /C0 [0.1] /C1 [0.9] /N 1 >> "
            b"/Extend [true true] >> >> >>"
        ),
    )
    mesh_data = b"".join(
        struct.pack(">BHHB", f, x, y, c) for f, x, y, c in [
            (0, 100, 100, 0), (0, 300, 100, 255), (0, 100, 300, 0),
            (1, 300, 300, 255),
        ]
    )
    mesh4 = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /Shading << "
        b"/Sh0 5 0 R >> >> >>",
        b"<< /Length 48 >>\nstream\n"
        b"BT /F1 12 Tf 72 700 Td (mesh page) Tj ET\n"
        b"/Sh0 sh\nendstream",
        b"<< /ShadingType 4 /BitsPerFlag 8 /BitsPerCoordinate 16 "
        b"/BitsPerComponent 8 /Decode [0 65535 0 65535 0 1.0] "
        b"/Length " + str(len(mesh_data)).encode()
        + b" >>\nstream\n" + mesh_data + b"\nendstream",
    ])
    lat_data = b"".join(
        struct.pack(">HHB", x, y, c) for x, y, c in [
            (350, 350, 32), (500, 350, 224),
            (350, 500, 32), (500, 500, 224),
        ]
    )
    radial = (b"<< /ShadingType 3 /Coords [%d 400 0 %d 400 60] "
              b"/Function << /FunctionType 2 /C0 [0.0] /C1 [1.0] /N 1 >> "
              b"/Extend [false false] >>")
    lattice5 = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /Shading << "
        b"/Sh0 5 0 R /Sh1 " + (radial % (120, 120))
        + b" /Sh2 " + (radial % (180, 180)) + b" >> >> >>",
        b"<< /Length 66 >>\nstream\n"
        b"BT /F1 12 Tf 72 700 Td (layers page) Tj ET\n"
        b"/Sh0 sh /Sh1 sh /Sh2 sh\nendstream",
        b"<< /ShadingType 5 /BitsPerCoordinate 16 /BitsPerComponent 8 "
        b"/VerticesPerRow 2 /Decode [0 65535 0 65535 0 1.0] "
        b"/Length " + str(len(lat_data)).encode()
        + b" >>\nstream\n" + lat_data + b"\nendstream",
    ])
    coons_pts = [
        (96, 96), (176, 36), (256, 36), (336, 96),
        (336, 176), (336, 256), (336, 336),
        (256, 336), (176, 336), (96, 336),
        (96, 256), (96, 176),
    ]
    coons_data = b"\x00" + b"".join(
        struct.pack(">HH", x, y) for x, y in coons_pts
    ) + bytes([0, 255, 128, 64])
    coons = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /Shading << "
        b"/Sh0 5 0 R >> >> >>",
        b"<< /Length 49 >>\nstream\n"
        b"BT /F1 12 Tf 72 700 Td (coons page) Tj ET\n"
        b"/Sh0 sh\nendstream",
        b"<< /ShadingType 6 /BitsPerFlag 8 /BitsPerCoordinate 16 "
        b"/BitsPerComponent 8 /Decode [0 65535 0 65535 0 1.0] "
        b"/Length " + str(len(coons_data)).encode()
        + b" >>\nstream\n" + coons_data + b"\nendstream",
    ])
    def _e(a, b):
        # interior control points of a straight cubic a -> b
        return [(a[0] + (b[0] - a[0]) // 3, a[1] + (b[1] - a[1]) // 3),
                (a[0] + 2 * (b[0] - a[0]) // 3,
                 a[1] + 2 * (b[1] - a[1]) // 3)]

    p1, p4, p7, p10 = (100, 100), (200, 100), (200, 200), (100, 200)
    first = ([p1] + _e(p1, p4) + [p4] + _e(p4, p7) + [p7]
             + _e(p7, p10) + [p10] + _e(p10, p1))
    c1 = (_e((200, 200), (300, 200)) + [(300, 200)]
          + _e((300, 200), (300, 100)) + [(300, 100)]
          + _e((300, 100), (200, 100)))
    c2 = (_e((300, 100), (400, 100)) + [(400, 100)]
          + _e((400, 100), (400, 200)) + [(400, 200)]
          + _e((400, 200), (300, 200)))
    c3 = (_e((300, 200), (300, 300)) + [(300, 300)]
          + _e((300, 300), (400, 300)) + [(400, 300)]
          + _e((400, 300), (400, 200)))
    flags_data = (
        b"\x00" + b"".join(struct.pack(">HH", x, y) for x, y in first)
        + bytes([0, 64, 128, 192])
        + b"\x01" + b"".join(struct.pack(">HH", x, y) for x, y in c1)
        + bytes([255, 255])
        + b"\x02" + b"".join(struct.pack(">HH", x, y) for x, y in c2)
        + bytes([32, 32])
        + b"\x03" + b"".join(struct.pack(">HH", x, y) for x, y in c3)
        + bytes([96, 96])
    )
    coonsflags = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /Shading << "
        b"/Sh0 5 0 R >> >> >>",
        b"<< /Length 49 >>\nstream\n"
        b"BT /F1 12 Tf 72 700 Td (flags page) Tj ET\n"
        b"/Sh0 sh\nendstream",
        b"<< /ShadingType 6 /BitsPerFlag 8 /BitsPerCoordinate 16 "
        b"/BitsPerComponent 8 /Decode [0 65535 0 65535 0 1.0] "
        b"/Length " + str(len(flags_data)).encode()
        + b" >>\nstream\n" + flags_data + b"\nendstream",
    ])
    fn_data = bytes([0, 255, 0, 255])
    func = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /Shading << "
        b"/Sh0 << /ShadingType 1 /Domain [0 1 0 1] "
        b"/Matrix [200 0 0 100 100 300] /Function 5 0 R >> >> >> >>",
        b"<< /Length 46 >>\nstream\n"
        b"BT /F1 12 Tf 72 700 Td (fn page) Tj ET\n"
        b"/Sh0 sh\nendstream",
        b"<< /FunctionType 0 /Domain [0 1 0 1] /Size [2 2] "
        b"/BitsPerSample 8 /Range [0 1] /Length 4 >>\nstream\n"
        + fn_data + b"\nendstream",
    ])
    calc_body = b"{ pop }"  # gray(x, y) = x: the ramp
    calc_content = (b"BT /F1 12 Tf 72 700 Td (calc page) Tj ET\n"
                    b"q 100 300 200 100 re W n /Sh0 sh Q")
    calcshade = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /Shading << "
        b"/Sh0 << /ShadingType 1 /Domain [0 1 0 1] "
        b"/Matrix [200 0 0 100 100 300] /Function 5 0 R >> >> >> >>",
        b"<< /Length " + str(len(calc_content)).encode()
        + b" >>\nstream\n" + calc_content + b"\nendstream",
        b"<< /FunctionType 4 /Domain [0 1 0 1] /Range [0 1] "
        b"/Length " + str(len(calc_body)).encode() + b" >>\nstream\n"
        + calc_body + b"\nendstream",
    ])
    return {"diag.pdf": diag, "mesh4.pdf": mesh4,
            "lattice5.pdf": lattice5, "coons.pdf": coons,
            "coonsflags.pdf": coonsflags, "func.pdf": func,
            "calcshade.pdf": calcshade}


@query(
    "a33_shading_render",
    sql="""
    SELECT * FROM (VALUES
      ('coons.pdf', 1, 612, 792, '2e188184'),
      ('coonsflags.pdf', 1, 612, 792, 'b9607fc9'),
      ('calcshade.pdf', 1, 612, 792, '75ce6636'),
      ('func.pdf', 1, 612, 792, '3a1ca07f'),
      ('diag.pdf', 1, 612, 792, '0edf6db8'),
      ('lattice5.pdf', 1, 612, 792, '1dd9b2af'),
      ('mesh4.pdf', 1, 612, 792, 'bbc560d0')
    ) t(path, page, img_w, img_h, render_sha8)
    """,
    tier="A",
)
def a33_shading_render(spark, sf_dir):
    """Round-8 shading renders, sha-pinned (extends the a6 contract):
    diagonal-axis axial (per-pixel CTM-inverse patch), free-form and
    lattice Gouraud meshes, and overlapping radial shadings whose
    unpainted pixels are transparent — the masked patches composite
    in content-stream order. Hand-derived pixel laws for the same
    fixtures: tests/test_raster.py TestMeshShading/TestAxialShading."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec

    pipe = ExtractionPipeline(
        spark=spark, features=["text", "image"], codec=PdfCodec()
    )
    pages = pipe.pages(_shading_fixtures())

    def ihdr_field(pos: int) -> F.Column:
        return F.conv(F.hex(F.substring(F.col("image"), pos, 4)), 16, 10).cast(
            "int"
        )

    return pages.select(
        "path",
        "page",
        ihdr_field(17).alias("img_w"),
        ihdr_field(21).alias("img_h"),
        F.substring(F.sha2(F.col("image"), 256), 1, 8).alias("render_sha8"),
    )


# --------------------------------------------------------------- A34
def _torture_fixture() -> dict:
    """The a34 interaction-torture page: every round-8 feature plus
    forms and inherited /Rotate COMBINED on one page — a dashed thick
    stroke via ExtGState, a shading-pattern fill, a lattice mesh, a
    radial sh paint painted OVER a rect fill (stream-order z), a
    constant-alpha (/ca 0.3) watermark band blended over that
    region, letterhead text inside a /Form XObject, all under
    /Rotate 90 inherited from /Pages. Pins that the features
    compose, not just work in isolation."""
    import struct

    lat_data = b"".join(
        struct.pack(">HHB", x, y, c) for x, y, c in [
            (400, 100, 32), (500, 100, 224),
            (400, 200, 32), (500, 200, 224),
        ]
    )
    head = b"BT /F1 14 Tf 0 0 Td (TORTURE HEAD) Tj ET"
    content = (
        b"BT /F1 12 Tf 72 700 Td (torture body) Tj ET\n"
        b"q 1 0 0 1 72 750 cm /Fo1 Do Q\n"
        b"/G1 gs 0 G 72 650 m 400 650 l S\n"
        b"/Pattern cs /P0 scn 100 300 150 80 re f\n"
        b"q /Sh5 sh Q\n"
        b"0.25 g 150 450 120 60 re f\n"
        b"q 140 440 140 80 re W n /Sh3 sh Q\n"
        b"q /Gwm gs 0.2 g 100 430 250 100 re f Q"
    )
    return {"torture.pdf": _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 /Rotate 90 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << "
        b"/XObject << /Fo1 5 0 R >> "
        b"/ExtGState << /G1 << /LW 6 /D [[25 15] 0] >> "
        b"/Gwm << /ca 0.3 >> >> "
        b"/Pattern << /P0 << /PatternType 2 /Matrix [1 0 0 1 0 0] "
        b"/Shading << /ShadingType 2 /Coords [100 0 250 0] "
        b"/Function << /FunctionType 2 /C0 [0.1] /C1 [0.9] /N 1 >> "
        b"/Extend [true true] >> >> >> "
        b"/Shading << /Sh5 6 0 R /Sh3 << "
        b"/ShadingType 3 /Coords [210 480 0 210 480 50] "
        b"/Function << /FunctionType 2 /C0 [0.9] /C1 [0.1] /N 1 >> "
        b"/Extend [false false] >> >> "
        b">> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 400 40] "
        b"/Length " + str(len(head)).encode() + b" >>\nstream\n"
        + head + b"\nendstream",
        b"<< /ShadingType 5 /BitsPerCoordinate 16 /BitsPerComponent 8 "
        b"/VerticesPerRow 2 /Decode [0 65535 0 65535 0 1.0] "
        b"/Length " + str(len(lat_data)).encode()
        + b" >>\nstream\n" + lat_data + b"\nendstream",
    ])}


@query(
    "a34_feature_torture",
    sql="""
    SELECT * FROM (VALUES
      ('torture.pdf', 1, 792, 612, 'f6b4131d',
       'TORTURE HEAD' || chr(10) || 'torture body')
    ) t(path, page, img_w, img_h, render_sha8, text)
    """,
    tier="A",
)
def a34_feature_torture(spark, sf_dir):
    """Round-8 interaction torture (see _torture_fixture): dashed
    ExtGState stroke + pattern fill + lattice mesh + stream-order
    radial-over-fill + Form-XObject text, all under inherited
    /Rotate 90 — one sha-pinned composite render (dims swap to
    792x612) plus the reading-order text through the form. Sha
    re-pinned twice in round-9: shading/pattern patches on /Rotate
    pages now rotate their PIXEL CONTENTS into the displayed frame
    (codecs._displayed_patch) instead of bbox-stamping the unrotated
    plane, and glyph runs follow the DISPLAYED text direction — the
    horizontal page text here now rasterizes vertically under
    /Rotate 90, as a viewer shows it (raster.compose_page rotated
    5x7 cells; in-plane-rotated scanner text still composes
    upright)."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec

    pipe = ExtractionPipeline(
        spark=spark, features=["text", "image"], codec=PdfCodec()
    )
    pages = pipe.pages(_torture_fixture())

    def ihdr_field(pos: int) -> F.Column:
        return F.conv(F.hex(F.substring(F.col("image"), pos, 4)), 16, 10).cast(
            "int"
        )

    return pages.select(
        "path",
        "page",
        ihdr_field(17).alias("img_w"),
        ihdr_field(21).alias("img_h"),
        F.substring(F.sha2(F.col("image"), 256), 1, 8).alias("render_sha8"),
        "text",
    )


# --------------------------------------------------------------- A36
def _clip_fixture() -> dict:
    """Non-rect clipping torture page (round-8): a TRIANGLE clip
    over a full-page fill, a MULTI-RECT clip (union with a gap), a
    CHAINED rect∩triangle clip, a dashed thick stroke gated by a
    polygon clip, an axial shading painted through a triangle clip,
    and an UNCOLORED (PaintType 2) tiling hatch — painted in the scn
    operands' color — gated by another triangle clip: every painter
    class runs through the stencil chain. ``patpoly.pdf`` (round-9):
    NON-RECT pattern-fill REGIONS — a triangle filled with a shading
    pattern and a triangle filled with an uncolored tiling hatch;
    the region polygon itself joins the stencil chain
    (minipdf.content_draw_ops ``region=``) and the patch rasterizes
    over its bbox — plus a 10-wide /Pattern CS + SCN STROKE whose
    quad paints through the same path (round-9). ``tileimg.pdf``
    (round-9): a tiling cell that ``Do``s an image XObject from the
    pattern's own /Resources, and an OVERLAPPING tiling (XStep 6 <
    cell 10) composited into its period cell; round-10 adds a
    FRACTIONAL-step overlap (XStep 6.3 — q=10 rational-period
    supersampling) and a DEPTH-2 nested band
    (pattern-in-pattern-in-pattern, _TILE_NEST_BUDGET) — both were
    named declines in round-9, and the golden was re-pinned from
    the engine's own output for the new paints."""
    cell = b"0 0 m 10 10 l S"
    content = (
        b"BT /F1 12 Tf 10 760 Td (clip torture) Tj ET\n"
        # triangle clip over a big fill
        b"q 40 40 m 240 40 l 140 240 l h W n 0 0 612 792 re f Q\n"
        # multi-rect clip (two windows, a gap between)
        b"q 280 40 40 40 re 340 40 40 40 re W n "
        b"270 30 120 60 re f Q\n"
        # chained: rect then triangle — only the AND paints
        b"q 40 300 100 200 re W n "
        b"40 320 m 240 320 l 140 520 l h W n 0 0 612 792 re f Q\n"
        # dashed thick stroke gated by a polygon clip
        b"q 300 300 m 500 300 l 400 500 l h W n "
        b"6 w [20 10] 0 d 280 380 m 520 380 l S Q\n"
        # axial shading through a triangle clip
        b"q 300 560 m 500 560 l 400 720 l h W n /Sh0 sh Q\n"
        # uncolored tiling hatch, scn gray 0.2, through a clip
        b"q 60 560 m 260 560 l 160 720 l h W n "
        b"/Pattern cs 0.2 /P0 scn 60 560 200 160 re f Q"
    )
    import zlib

    tile_img = zlib.compress(bytes([30] * 36))  # 6x6 dark block
    tileimg_content = (
        b"BT /F1 12 Tf 72 700 Td (tile torture) Tj ET\n"
        # colored tiling whose cell stamps an image XObject
        b"/Pattern cs /Pi scn 80 80 200 100 re f\n"
        # overlapping tiles: 8-wide stripe on XStep 6 (full cover)
        b"/Pattern cs /Po scn 80 220 120 40 re f\n"
        # FRACTIONAL overlap step (round-10): two-gray cell on
        # XStep 6.3 — q=10 rational-period supersampling (eighths-
        # only in round-9; this paint declined then)
        b"/Pattern cs /Pf scn 80 300 120 40 re f\n"
        # DEPTH-2 nesting (round-10): pattern-in-pattern-in-pattern
        # — outer cell fills with a mid pattern whose cell fills
        # with an innermost 2-period stripe (declined in round-9)
        b"/Pattern cs /Pp scn 80 380 120 40 re f\n"
    )
    fcell = b"0.1 g 0 0 2 10 re f 0.8 g 2 0 8 10 re f"
    d2_out = b"/Pattern cs /Pq scn 0 0 10 10 re f"
    d2_mid = b"/Pattern cs /Pr scn 0 0 5 5 re f"
    tileimg = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /Pattern << "
        b"/Pi 5 0 R /Po 6 0 R /Pf 8 0 R /Pp 9 0 R >> >> >>",
        b"<< /Length " + str(len(tileimg_content)).encode()
        + b" >>\nstream\n" + tileimg_content + b"\nendstream",
        b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
        b"/BBox [0 0 10 10] /XStep 10 /YStep 10 "
        b"/Resources << /XObject << /Ic 7 0 R >> >> "
        b"/Length 25 >>\nstream\n"
        b"q 6 0 0 6 2 2 cm /Ic Do Q\nendstream",
        b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
        b"/BBox [0 0 10 10] /XStep 6 /YStep 10 /Resources << >> "
        b"/Length 18 >>\nstream\n"
        b"0.2 g 0 0 8 10 re f\nendstream",
        b"<< /Type /XObject /Subtype /Image /Width 6 /Height 6 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
        b"/Filter /FlateDecode /Length "
        + str(len(tile_img)).encode() + b" >>\nstream\n"
        + tile_img + b"\nendstream",
        b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
        b"/BBox [0 0 10 10] /XStep 6.3 /YStep 10 /Resources << >> "
        b"/Length " + str(len(fcell)).encode() + b" >>\nstream\n"
        + fcell + b"\nendstream",
        b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
        b"/BBox [0 0 10 10] /XStep 10 /YStep 10 "
        b"/Resources << /Pattern << /Pq 10 0 R >> >> "
        b"/Length " + str(len(d2_out)).encode() + b" >>\nstream\n"
        + d2_out + b"\nendstream",
        b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
        b"/BBox [0 0 5 5] /XStep 5 /YStep 5 "
        b"/Resources << /Pattern << /Pr 11 0 R >> >> "
        b"/Length " + str(len(d2_mid)).encode() + b" >>\nstream\n"
        + d2_mid + b"\nendstream",
        b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
        b"/BBox [0 0 2 2] /XStep 2 /YStep 2 /Resources << >> "
        b"/Length 13 >>\nstream\n0 0 1 2 re f\nendstream",
    ])
    patcell = b"0 0 m 10 10 l S"
    patpoly_content = (
        b"BT /F1 12 Tf 72 700 Td (poly pattern) Tj ET\n"
        b"/Pattern cs /P0 scn 100 100 m 300 100 l 200 300 l h f\n"
        b"/Pattern cs 0.2 /P1 scn 350 100 m 550 100 l 450 300 l h f\n"
        # STROKE pattern (round-9): a 10-wide line painted with the
        # shading pattern through the same region-stencil path
        b"/Pattern CS /P0 SCN 10 w 100 400 m 300 400 l S\n"
    )
    patpoly = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /Pattern << "
        b"/P0 << /PatternType 2 /Matrix [1 0 0 1 0 0] "
        b"/Shading << /ShadingType 2 /Coords [100 0 300 0] "
        b"/Function << /FunctionType 2 /C0 [0.1] /C1 [0.9] /N 1 >> "
        b"/Extend [true true] >> >> /P1 5 0 R >> >> >>",
        b"<< /Length " + str(len(patpoly_content)).encode()
        + b" >>\nstream\n" + patpoly_content + b"\nendstream",
        b"<< /PatternType 1 /PaintType 2 /TilingType 1 "
        b"/BBox [0 0 10 10] /XStep 10 /YStep 10 /Resources << >> "
        b"/Length " + str(len(patcell)).encode() + b" >>\nstream\n"
        + patcell + b"\nendstream",
    ])
    return {"patpoly.pdf": patpoly, "tileimg.pdf": tileimg,
            "clip.pdf": _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /Shading << "
        b"/Sh0 << /ShadingType 2 /Coords [300 0 500 0] "
        b"/Function << /FunctionType 2 /C0 [0.1] /C1 [0.9] /N 1 >> "
        b"/Extend [true true] >> >> /Pattern << /P0 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /PatternType 1 /PaintType 2 /TilingType 1 "
        b"/BBox [0 0 10 10] /XStep 10 /YStep 10 /Resources << >> "
        b"/Length " + str(len(cell)).encode() + b" >>\nstream\n"
        + cell + b"\nendstream",
    ])}


@query(
    "a36_clip_render",
    sql="""
    SELECT * FROM (VALUES
      ('clip.pdf', 1, 612, 792, 'dac2973f'),
      ('patpoly.pdf', 1, 612, 792, 'f376e399'),
      ('tileimg.pdf', 1, 612, 792, 'a25e1f96')
    ) t(path, page, img_w, img_h, render_sha8)
    """,
    tier="A",
)
def a36_clip_render(spark, sf_dir):
    """Non-rect / multi-rect / chained CLIPPING in the composite
    render (round-8 close of the clip decline): W/W* paths become
    device-space polygon stencil chains that gate fills, polygon
    fills, dashed thick strokes, image placements and shading
    patches per pixel (minipdf.content_draw_ops stencils →
    raster.compose_page masks) — plus an UNCOLORED (PaintType 2)
    tiling hatch painted in the scn operands' color through a
    polygon clip. Sha-pinned render; pixel laws in
    tests/test_raster.py TestClipStencils / TestUncoloredTiling."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec

    pipe = ExtractionPipeline(
        spark=spark, features=["text", "image"], codec=PdfCodec()
    )
    pages = pipe.pages(_clip_fixture())

    def ihdr_field(pos: int) -> F.Column:
        return F.conv(F.hex(F.substring(F.col("image"), pos, 4)), 16, 10).cast(
            "int"
        )

    return pages.select(
        "path",
        "page",
        ihdr_field(17).alias("img_w"),
        ihdr_field(21).alias("img_h"),
        F.substring(F.sha2(F.col("image"), 256), 1, 8).alias("render_sha8"),
    )


# --------------------------------------------------------------- A35
def _type3_fixture() -> dict:
    """Type3 font page (round-8 ask #3): two /CharProcs glyphs — a
    filled square and a Bézier-free triangle — shown twice at
    different baselines via 1-byte codes from /Encoding
    /Differences, next to a regular Helvetica line. The composite
    render executes each CharProc content stream through the
    geometry interpreter under FontMatrix · [Tfs 0 0 Tfs 0 0] · Tm ·
    CTM, with REAL /Widths advances between glyphs."""
    sq = b"10 0 d0 1 1 8 8 re f"
    tri = b"10 0 d0 1 1 m 9 1 l 5 9 l h f"
    content = (
        b"BT /F1 12 Tf 72 700 Td (type3 page) Tj ET\n"
        b"BT /F3 24 Tf 100 100 Td (AB) Tj 0 48 Td (BA) Tj ET"
    )
    return {"type3.pdf": _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F3 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type3 /FontBBox [0 0 10 10] "
        b"/FontMatrix [0.1 0 0 0.1 0 0] /CharProcs 6 0 R "
        b"/Encoding << /Type /Encoding "
        b"/Differences [65 /square 66 /tri] >> "
        b"/FirstChar 65 /LastChar 66 /Widths [10 10] >>",
        b"<< /square 7 0 R /tri 8 0 R >>",
        b"<< /Length " + str(len(sq)).encode() + b" >>\nstream\n"
        + sq + b"\nendstream",
        b"<< /Length " + str(len(tri)).encode() + b" >>\nstream\n"
        + tri + b"\nendstream",
    ])}


@query(
    "a35_type3_render",
    sql="""
    SELECT * FROM (VALUES
      ('type3.pdf', 1, 612, 792, '05762075',
       'type3 page' || chr(10) || 'BA' || chr(10) || 'AB')
    ) t(path, page, img_w, img_h, render_sha8, text)
    """,
    tier="A",
)
def a35_type3_render(spark, sf_dir):
    """Type3 glyph PAINTING in the composite render (round-8 verdict
    ask #3; extraction already worked): each shown glyph's /CharProc
    executes through content_draw_ops with the glyph matrix
    prepended, geometry merges into the z-order journal, and the
    builtin 5×7 raster is suppressed for Type3 runs (no double
    paint). Sha-pinned render + reading-order text golden; pixel
    laws in tests/test_raster.py TestType3Render."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec

    pipe = ExtractionPipeline(
        spark=spark, features=["text", "image"], codec=PdfCodec()
    )
    pages = pipe.pages(_type3_fixture())

    def ihdr_field(pos: int) -> F.Column:
        return F.conv(F.hex(F.substring(F.col("image"), pos, 4)), 16, 10).cast(
            "int"
        )

    return pages.select(
        "path",
        "page",
        ihdr_field(17).alias("img_w"),
        ihdr_field(21).alias("img_h"),
        F.substring(F.sha2(F.col("image"), 256), 1, 8).alias("render_sha8"),
        "text",
    )


# --------------------------------------------------------------- A37
def _softmask_blend_fixtures() -> dict:
    """The a37 corpus (round-9 verdict ask #1): per-pixel image
    /SMask alpha and separable blend modes in the composite render.

    - ``smask.pdf``: a /DeviceGray image whose /SMask is an 8x8
      horizontal alpha ramp (the base image is 4x4, so the alpha
      plane RESAMPLES to the base grid — codecs._entry_alpha),
      placed over a mid-gray backdrop rect: the left edge vanishes
      into the backdrop, the right edge paints opaque.
    - ``blendshade.pdf``: an axial shading with /Multiply, /Screen
      and /Difference rects blended over it through ExtGState /BM
      (ISO 32000-1 §11.3.5; raster._blend_gray), plus a /BM array
      form and a q/Q restore pinning the gstate behavior.
    """
    import zlib

    base = bytes([40] * 16)  # 4x4 dark gray
    ramp = bytes(min(255, x * 36)
                 for y in range(8) for x in range(8))  # 8x8 alpha ramp
    img_data = zlib.compress(base)
    sm_data = zlib.compress(ramp)
    sm_content = (
        b"BT /F1 12 Tf 72 700 Td (smask page) Tj ET\n"
        b"0.6 g 100 380 240 140 re f\n"
        b"q 200 0 0 100 120 400 cm /Im0 Do Q\n"
    )
    smask = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << "
        b"/XObject << /Im0 5 0 R >> >> >>",
        b"<< /Length " + str(len(sm_content)).encode()
        + b" >>\nstream\n" + sm_content + b"\nendstream",
        b"<< /Type /XObject /Subtype /Image /Width 4 /Height 4 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
        b"/Filter /FlateDecode /SMask 6 0 R "
        b"/Length " + str(len(img_data)).encode() + b" >>\nstream\n"
        + img_data + b"\nendstream",
        b"<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
        b"/Filter /FlateDecode "
        b"/Length " + str(len(sm_data)).encode() + b" >>\nstream\n"
        + sm_data + b"\nendstream",
    ])
    bl_content = (
        b"BT /F1 12 Tf 72 700 Td (blend page) Tj ET\n"
        b"q 100 300 300 200 re W n /Sh0 sh Q\n"
        b"q /Gm gs 0.5 g 120 320 80 160 re f Q\n"
        b"q /Gs gs 0.5 g 220 320 80 160 re f Q\n"
        b"/Gd gs 0.75 g 320 320 60 160 re f\n"
    )
    blendshade = _content_pdf(
        bl_content,
        page_extra=(
            b"/MediaBox [0 0 612 792] /Resources << "
            b"/Shading << /Sh0 << /ShadingType 2 "
            b"/Coords [100 0 400 0] "
            b"/Function << /FunctionType 2 /C0 [0.1] /C1 [0.9] /N 1 >> "
            b"/Extend [true true] >> >> "
            b"/ExtGState << /Gm << /BM /Multiply >> "
            b"/Gs << /BM [/Screen /Multiply] >> "
            b"/Gd << /BM /Difference >> >> >>"
        ),
    )
    # round-9 colorspace fidelity (ISO 32000-1 §8.6.5-8.6.6):
    # textless pages whose single image takes the scan route, so the
    # render sha pins the gray mapping itself
    sep_tint = bytes([0, 36, 72, 109, 145, 182, 218, 255] * 4)
    sep_data = zlib.compress(sep_tint)
    sep = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /XObject << "
        b"/Im0 5 0 R >> >> >>",
        b"<< /Length 33 >>\nstream\n"
        b"q 80 0 0 40 100 600 cm /Im0 Do Q\nendstream",
        b"<< /Type /XObject /Subtype /Image /Width 8 /Height 4 "
        b"/ColorSpace [/Separation /Spot /DeviceCMYK "
        b"<< /FunctionType 2 /Domain [0 1] /C0 [0 0 0 0] "
        b"/C1 [0.9 0.2 0.1 0.05] /N 1 >>] "
        b"/BitsPerComponent 8 /Filter /FlateDecode "
        b"/Length " + str(len(sep_data)).encode() + b" >>\nstream\n"
        + sep_data + b"\nendstream",
    ])
    icc_px = bytes(
        [255, 0, 0, 0, 0, 255, 0, 0, 0, 0, 255, 0, 0, 0, 0, 255] * 2
    )
    icc_data = zlib.compress(icc_px)
    icc4 = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /XObject << "
        b"/Im0 5 0 R >> >> >>",
        b"<< /Length 33 >>\nstream\n"
        b"q 40 0 0 20 300 600 cm /Im0 Do Q\nendstream",
        b"<< /Type /XObject /Subtype /Image /Width 4 /Height 2 "
        b"/ColorSpace [/ICCBased 6 0 R] "
        b"/BitsPerComponent 8 /Filter /FlateDecode "
        b"/Length " + str(len(icc_data)).encode() + b" >>\nstream\n"
        + icc_data + b"\nendstream",
        b"<< /N 4 /Length 4 >>\nstream\nfake\nendstream",
    ])
    # ExtGState /SMask LUMINOSITY GROUP (round-9): a form whose
    # axial shading becomes the per-pixel alpha of a black fill —
    # the vignette idiom; a second fill resets via /SMask /None
    lm_body = b"q 100 300 200 100 re W n /Sh0 sh Q"
    lm_form = (
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
        b"/Group << /S /Transparency /CS /DeviceGray >> "
        b"/Resources << /Shading << /Sh0 << /ShadingType 2 "
        b"/Coords [100 0 300 0] "
        b"/Function << /FunctionType 2 /C0 [1.0] /C1 [0.0] /N 1 >> "
        b"/Extend [true true] >> >> >> /Length "
        + str(len(lm_body)).encode() + b" >>\nstream\n"
        + lm_body + b"\nendstream")
    lm_content = (
        b"BT /F1 12 Tf 72 700 Td (luma mask) Tj ET\n"
        b"/Gm gs 0 g 100 300 200 100 re f\n"
        b"q /Gn gs 0.5 g 100 500 100 50 re f Q\n")
    lumamask = _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/MediaBox [0 0 612 792] /Resources << /ExtGState << "
        b"/Gm << /SMask << /S /Luminosity /G 5 0 R >> >> "
        b"/Gn << /SMask /None >> >> >> >>",
        b"<< /Length " + str(len(lm_content)).encode()
        + b" >>\nstream\n" + lm_content + b"\nendstream",
        lm_form,
    ])
    return {"smask.pdf": smask, "blendshade.pdf": blendshade,
            "sep.pdf": sep, "icc4.pdf": icc4,
            "lumamask.pdf": lumamask}


@query(
    "a37_softmask_blend_render",
    sql="""
    SELECT * FROM (VALUES
      ('blendshade.pdf', 1, 612, 792, '7e228f2d'),
      ('smask.pdf', 1, 612, 792, '35b97e99'),
      ('sep.pdf', 1, 8, 4, 'f79c2539'),
      ('icc4.pdf', 1, 4, 2, '00a658e1'),
      ('lumamask.pdf', 1, 612, 792, '69144be8')
    ) t(path, page, img_w, img_h, render_sha8)
    """,
    tier="A",
)
def a37_softmask_blend_render(spark, sf_dir):
    """Per-pixel image /SMask alpha + separable blend modes in the
    composite render (round-9 verdict ask #1), sha-pinned: the alpha
    plane a18 already decoded now composites (resampled to the base
    image grid), and ExtGState /BM applies Multiply/Screen/
    Difference per-pixel over an axial shading. Hand-derived pixel
    laws for the same machinery: tests/test_raster.py
    TestBlendSoftMask. The sep.pdf/icc4.pdf rows (round-9 ask #8)
    pin the COLORSPACE gray mapping through the scan route: a
    /Separation tint ramp maps through its tint transform (tint 0 =
    no ink = white — the naive raw-gray reading renders plates
    inverted) and an /ICCBased N=4 image converts as CMYK
    (codecs._entry_gray). lumamask.pdf pins ExtGState /SMask
    LUMINOSITY GROUPS (round-9, the last transparency decline): the
    mask form's shading rasterizes once into a full-canvas alpha
    plane gating the fill per pixel, with /SMask /None resetting —
    pixel laws in tests/test_raster.py TestLuminosityMask."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec

    pipe = ExtractionPipeline(
        spark=spark, features=["text", "image"], codec=PdfCodec()
    )
    pages = pipe.pages(_softmask_blend_fixtures())

    def ihdr_field(pos: int) -> F.Column:
        return F.conv(F.hex(F.substring(F.col("image"), pos, 4)), 16, 10).cast(
            "int"
        )

    return pages.select(
        "path",
        "page",
        ihdr_field(17).alias("img_w"),
        ihdr_field(21).alias("img_h"),
        F.substring(F.sha2(F.col("image"), 256), 1, 8).alias("render_sha8"),
    )


# --------------------------------------------------------------- A39
def _positioned_cid_pdf(runs: list[tuple], enc: bytes = b"/Identity-H") -> bytes:
    """One page showing positioned CID runs through a Type0 font with
    a sequential-code /ToUnicode CMap: ``runs`` is [(x, y, text),
    ...] — each painted as its own BT/Td/Tj at device coordinates,
    so PAINT order and x order can differ (how a real PDF paints
    visual-order RTL and multi-run lines). ``enc`` switches
    /Identity-H / /Identity-V (WMode 1: glyphs advance down the
    column)."""
    text = "".join(t for _, _, t in runs)
    bfchars = "".join(
        f"<{i + 1:04X}> <{ord(c):04X}>\n" for i, c in enumerate(text)
    )
    cmap = (
        "/CIDInit /ProcSet findresource begin\nbegincmap\n"
        "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        f"{len(text)} beginbfchar\n{bfchars}endbfchar\nendcmap end\n"
    ).encode("ascii")
    idx = 1
    ops = []
    for x, y, t in runs:
        codes = "".join(f"{idx + k:04X}" for k in range(len(t)))
        idx += len(t)
        ops.append(f"BT /F1 12 Tf {x} {y} Td <{codes}> Tj ET")
    content = "\n".join(ops).encode("ascii")
    return _raw_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
        b"<< /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /TestCID "
        b"/Encoding " + enc + b" /ToUnicode 6 0 R >>",
        b"<< /Length " + str(len(cmap)).encode() + b" >>\nstream\n"
        + cmap + b"\nendstream",
    ])


@query(
    "a39_rtl_extract",
    sql="""
    SELECT * FROM (VALUES
      ('arabic.pdf', 1, 0, 'نص مع 123 شكل'),
      ('brackets.pdf', 1, 0, '(שלום)'),
      ('hebrew.pdf', 1, 0, 'שלום עולם'),
      ('hebrew.pdf', 1, 1, 'הקובץ test.pdf נשמר'),
      ('mixed.pdf', 1, 0, 'file שלום saved'),
      ('vertical.pdf', 1, 0, '春眠不覚暁'),
      ('vertical.pdf', 1, 1, '処処聞啼鳥')
    ) t(path, page, line_no, line)
    """,
    tier="A",
)
def a39_rtl_extract(spark, sf_dir):
    """RTL/bidi LOGICAL-order + vertical-writing extraction (round-11
    verdict asks #1–2). A PDF can only paint glyphs at positions, so
    Hebrew/Arabic pages carry text in VISUAL order; the layout line
    assembler re-orders each line to logical order (UAX #9 subset in
    sources/minipdf._bidi_logical: strong-majority base direction,
    LTR/digit islands, inverted L4 bracket mirroring) the way
    pdftotext emits it. vertical.pdf shows /Identity-V (WMode 1) CID
    text: glyphs advance DOWN one em, columns read right-to-left —
    line 0 is the RIGHT column. Each extracted page splits into
    per-line rows (posexplode), so line ORDER is value-hashed, not
    just membership. Constant fixtures → full golden oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec

    docs = {
        "hebrew.pdf": _positioned_cid_pdf([
            (72, 700, "םלוע םולש"),
            # one mixed line painted as three runs, left to right
            (72, 680, "רמשנ"), (105, 680, "test.pdf"),
            (162, 680, "ץבוקה"),
        ]),
        "arabic.pdf": _positioned_cid_pdf([(72, 700, "لكش 123 عم صن")]),
        "mixed.pdf": _positioned_cid_pdf([
            (72, 700, "file"), (100, 700, "םולש"), (140, 700, "saved"),
        ]),
        "brackets.pdf": _positioned_cid_pdf([(72, 700, "(םולש)")]),
        "vertical.pdf": _positioned_cid_pdf(
            [(300, 700, "春眠不覚暁"), (280, 700, "処処聞啼鳥")],
            enc=b"/Identity-V",
        ),
    }
    pipe = ExtractionPipeline(spark=spark, features=["text"], codec=PdfCodec())
    pages = pipe.pages(docs)
    return pages.select(
        "path",
        "page",
        F.posexplode(F.split("text", "\n")).alias("line_no", "line"),
    )


# --------------------------------------------------------------- A40
@query(
    "a40_incremental_update_extract",
    sql="""
    SELECT * FROM (VALUES
      ('addpage.pdf', 1, 'original page one', false),
      ('addpage.pdf', 2, 'page two body', false),
      ('addpage.pdf', 3, 'appended third page', false),
      ('base.pdf', 1, 'original page one', false),
      ('base.pdf', 2, 'page two body', false),
      ('gen1.pdf', 1, 'updated page one', false),
      ('gen1.pdf', 2, 'page two body', false),
      ('gen3.pdf', 1, 'third generation', false),
      ('gen3.pdf', 2, 'updated page two', false),
      ('truncated.pdf', 1, 'third generation', false),
      ('truncated.pdf', 2, 'updated page two', false)
    ) t(path, page, text, has_error)
    """,
    tier="A",
)
def a40_incremental_update_extract(spark, sf_dir):
    """MULTI-GENERATION incremental updates (round-11 verdict ask #5;
    ISO 32000-1 §7.5.6): saves append updated objects + a new xref
    whose trailer /Prev chains to the old one — the original bytes
    stay in the file, and the LATEST generation of each object
    number is the live one. The engine's last-definition-wins object
    scan (minipdf.py) honors that, end-to-end pinned here:

    - ``gen1.pdf``: one update replacing page 1's content — page 1
      reads the NEW text, page 2 the original.
    - ``gen3.pdf``: THREE chained generations (page 1 updated, page
      2 updated, page 1 updated AGAIN) — the third generation wins
      over both earlier ones.
    - ``addpage.pdf``: an update that APPENDS a page (new /Pages
      generation with three kids + the new page and content
      objects) — structural growth, not just content swap.
    - ``truncated.pdf``: gen3 with the final update's xref/trailer
      CUT OFF mid-table (the damaged-tail shape a crashed writer
      leaves) — the object scan still recovers every intact object,
      so extraction equals gen3 instead of erroring.

    Constant fixtures → full golden oracle. Fixture twin:
    :func:`sources.minipdf.append_update`."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import append_update, build_pdf

    def content(text: str) -> bytes:
        body = f"BT /F1 12 Tf 72 720 Td ({text}) Tj ET".encode()
        return (b"<< /Length " + str(len(body)).encode()
                + b" >>\nstream\n" + body + b"\nendstream")

    base = build_pdf(["original page one", "page two body"])
    # build_pdf object layout: page i content = obj 4 + 2i, font = 7
    gen1 = append_update(base, {4: content("updated page one")})
    gen2 = append_update(gen1, {6: content("updated page two")})
    gen3 = append_update(gen2, {4: content("third generation")})
    truncated = gen3[:gen3.rfind(b"xref") + 6]
    addpage = append_update(base, {
        2: b"<< /Type /Pages /Kids [3 0 R 5 0 R 8 0 R] /Count 3 >>",
        8: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Contents 9 0 R /Resources << /Font << /F1 7 0 R >> >> >>",
        9: content("appended third page"),
    })
    docs = {
        "base.pdf": base,
        "gen1.pdf": gen1,
        "gen3.pdf": gen3,
        "truncated.pdf": truncated,
        "addpage.pdf": addpage,
    }
    pipe = ExtractionPipeline(spark=spark, features=["text"], codec=PdfCodec())
    pages = pipe.pages(docs)
    return pages.select(
        "path", "page", "text", F.col("error").isNotNull().alias("has_error")
    )


# --------------------------------------------------------------- A41
@query(
    "a41_actualtext_hidden_extract",
    sql="""
    SELECT * FROM (VALUES
      ('lig.pdf', 1, 'ligature' || chr(10) || 'efficient',
       CAST(0.0 AS DOUBLE)),
      ('named.pdf', 1, 'plain' || chr(10) || 'NAMED',
       CAST(0.0 AS DOUBLE)),
      ('ocrlayer.pdf', 1, chr(10) || 'scanned page text',
       CAST(1.0 AS DOUBLE)),
      ('partial.pdf', 1, 'VISIBLETEXT' || chr(10) || 'HIDDENTEXTS',
       CAST(0.5 AS DOUBLE)),
      ('softhyphen.pdf', 1,
       'soft' || chr(10) || 'estab' || chr(10) || 'lish',
       CAST(0.0 AS DOUBLE))
    ) t(path, page, text, hidden_text_rate)
    """,
    tier="A",
)
def a41_actualtext_hidden_extract(spark, sf_dir):
    """/ActualText marked content + invisible-text handling (ISO
    32000-1 §14.9.4 / §9.3.6 — the two biggest remaining
    pdftotext-parity shapes in real corpora):

    - ``lig.pdf``: an ``ffi`` LIGATURE glyph wrapped in ``/Span
      << /ActualText (ffi) >> BDC .. EMC`` extracts as the declared
      three characters — 'efficient', not 'e<U+FB03>cient'.
    - ``softhyphen.pdf``: a LINE-END hyphen wrapped in an EMPTY
      /ActualText deletes (the InDesign/LaTeX accessibility idiom):
      'estab' + deleted '-' ends its line, 'lish' starts the next —
      dehyphenated at the line level, ready for paragraph reflow.
    - ``named.pdf``: the property list referenced BY NAME through
      the page's /Resources /Properties dict
      (PdfDocument.page_properties), not inline.
    - ``ocrlayer.pdf``: a page whose entire text layer is Tr 3
      (invisible — the searchable-OCR-scan idiom): the text still
      EXTRACTS (pdftotext parity) and ``hidden_text_rate`` = 1.0
      flags it for curation.
    - ``partial.pdf``: half the characters hidden -> rate 0.5
      (exact dyadic fraction, so the double hashes bit-stable).

    The rate feature is the curation signal: ~1.0 means the page's
    machine text carries the OCR engine's quality, not the author's.
    Constant fixtures → full golden oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import build_pdf

    lig = build_pdf(["ligature"], extra_content=(
        b"BT /F1 12 Tf 72 680 Td (e) Tj "
        b"/Span << /ActualText (ffi) >> BDC (\xef) Tj EMC "
        b"(cient) Tj ET\n"))
    softhyphen = build_pdf(["soft"], extra_content=(
        b"BT /F1 12 Tf 72 680 Td (estab) Tj "
        b"/Span << /ActualText () >> BDC (-) Tj EMC ET\n"
        b"BT /F1 12 Tf 72 666 Td (lish) Tj ET\n"))
    named = build_pdf(["plain"], extra_content=(
        b"BT /F1 12 Tf 72 680 Td /Span /AT1 BDC (Xy) Tj EMC ET\n"))
    # splice the named property list into the page's /Resources (the
    # a19 trick: the stale xref this leaves also exercises the
    # object-scanner resilience path)
    named = named.replace(
        b"/Resources <<",
        b"/Resources << /Properties << /AT1 "
        b"<< /ActualText (NAMED) >> >>", 1)
    ocrlayer = build_pdf([""], extra_content=(
        b"BT /F1 12 Tf 3 Tr 72 700 Td (scanned page text) Tj ET\n"))
    partial = build_pdf(["VISIBLETEXT"], extra_content=(
        b"BT /F1 12 Tf 3 Tr 72 600 Td (HIDDENTEXTS) Tj ET\n"))
    docs = {
        "lig.pdf": lig,
        "softhyphen.pdf": softhyphen,
        "named.pdf": named,
        "ocrlayer.pdf": ocrlayer,
        "partial.pdf": partial,
    }
    pipe = ExtractionPipeline(
        spark=spark, features=["text", "hidden_text_rate"],
        codec=PdfCodec())
    return pipe.pages(docs).select(
        "path", "page", "text", "hidden_text_rate")


# --------------------------------------------------------------- A42
@query(
    "a42_artifact_body_extract",
    sql="""
    SELECT * FROM (VALUES
      ('plain.pdf', 1, 0, 'alpha beta', 1,
       CAST(0.0 AS DOUBLE)),
      ('tagged.pdf', 1, 0,
       'Intro line The quick establishment carried on the ' ||
       'Euler-Lagrange way', 3,
       CAST(14 AS DOUBLE) / CAST(74 AS DOUBLE))
    ) t(path, page, para_no, para, n_all_paras, artifact_text_rate)
    """,
    tier="A",
)
def a42_artifact_body_extract(spark, sf_dir):
    """Tagged-PDF pagination artifacts + dehyphenating reflow — the
    curation-grade body-text surface (ISO 32000-1 §14.8.2.2):

    - ``tagged.pdf`` wraps a running header (BDC /Artifact with a
      /Pagination property list) and a page number (bare /Artifact
      BMC) around a hyphenated two-break body. The
      ``body_paragraphs`` feature drops BOTH artifact lines before
      segmentation (1 body paragraph of 3 total), while the plain
      ``paragraphs`` feature keeps them (pdftotext parity —
      n_all_paras pins that both surfaces coexist).
    - Reflow DEHYPHENATES the typographic line break
      ('estab-'+'lishment' joins solid) and keeps the hyphen of the
      capitalized compound ('Euler-'+'Lagrange' joins unspaced).
    - ``artifact_text_rate`` = 14 artifact chars of 74 (exact
      integer ratio, double-division-stable cross-engine) — the
      header/footer-dominance curation signal.

    Constant fixtures → full golden oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import build_pdf

    tagged = build_pdf(["Intro line"], extra_content=(
        b"/Artifact << /Type /Pagination >> BDC "
        b"BT /F1 10 Tf 72 770 Td (ACME Quarterly) Tj ET EMC\n"
        b"BT /F1 12 Tf 72 700 Td (The quick estab-) Tj ET\n"
        b"BT /F1 12 Tf 72 686 Td (lishment carried on) Tj ET\n"
        b"BT /F1 12 Tf 72 660 Td (the Euler-) Tj ET\n"
        b"BT /F1 12 Tf 72 646 Td (Lagrange way) Tj ET\n"
        b"/Artifact BMC BT /F1 10 Tf 300 40 Td (7) Tj ET EMC\n"))
    docs = {"tagged.pdf": tagged, "plain.pdf": build_pdf(["alpha beta"])}
    pipe = ExtractionPipeline(
        spark=spark,
        features=["paragraphs", "body_paragraphs", "artifact_text_rate"],
        codec=PdfCodec())
    pages = pipe.pages(docs)
    return pages.select(
        "path",
        "page",
        F.posexplode(
            F.from_json("body_paragraphs", "array<string>")
        ).alias("para_no", "para"),
        F.size(F.from_json("paragraphs", "array<string>"))
        .alias("n_all_paras"),
        "artifact_text_rate",
    )


# --------------------------------------------------------------- A43
@query(
    "a43_ocg_layer_extract",
    sql="""
    SELECT * FROM (VALUES
      ('baseoff.pdf', 1, 'Visible body' || chr(10) || 'on layer'),
      ('noocg.pdf', 1,
       'Visible body' || chr(10) || 'on layer' || chr(10) ||
       'off layer'),
      ('ocmd.pdf', 1, 'Visible body' || chr(10) || 'anyon'),
      ('off.pdf', 1, 'Visible body' || chr(10) || 'on layer')
    ) t(path, page, text)
    """,
    tier="A",
)
def a43_ocg_layer_extract(spark, sf_dir):
    """OPTIONAL CONTENT layers (ISO 32000-1 §8.11 — the multi-
    language-manual / CAD-layer / alternate-content shape): ``/OC
    .. BDC`` scopes referencing an OCG the document's DEFAULT
    configuration turns off must not leak into extracted text —
    what every viewer shows and pdftotext emits.

    - ``off.pdf``: /OCProperties /D /OFF hides LayerB — its scope
      vanishes, LayerA's stays.
    - ``baseoff.pdf``: /BaseState /OFF with /ON [LayerA] — the
      inverted authoring of the same visibility (§8.11.4.3 ordering:
      BaseState, then ON, then OFF).
    - ``ocmd.pdf``: membership dicts over {on, off} OCGs — default
      /AnyOn stays visible, /AllOn hides (§8.11.2.2 /P policies).
    - ``noocg.pdf``: same content, NO /OCProperties — every layer
      extracts (no configuration means nothing is hidden).

    The state threads through PdfDocument.page_properties (hidden
    entries carry a private marker), so both walkers and the
    renderer share one visibility decision; /OC-keyed Form XObjects
    are filtered at page_forms discovery. Constant fixtures → full
    golden oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import append_update, build_pdf

    extra = (
        b"/OC /L1 BDC BT /F1 12 Tf 72 650 Td (on layer) Tj ET EMC\n"
        b"/OC /L2 BDC BT /F1 12 Tf 72 620 Td (off layer) Tj ET EMC\n")
    props = b"<< /L1 20 0 R /L2 21 0 R >>"
    page3 = (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
             b"/Resources << /Font << /F1 5 0 R >> /Properties "
             + props + b" >> >>")
    ocgs = {20: b"<< /Type /OCG /Name (LayerA) >>",
            21: b"<< /Type /OCG /Name (LayerB) >>"}
    base = build_pdf(["Visible body"], extra_content=extra)

    def with_catalog(ocprops: bytes) -> bytes:
        return append_update(base, {
            1: b"<< /Type /Catalog /Pages 2 0 R /OCProperties "
               + ocprops + b" >>",
            3: page3, **ocgs})

    off = with_catalog(
        b"<< /OCGs [20 0 R 21 0 R] /D << /OFF [21 0 R] >> >>")
    baseoff = with_catalog(
        b"<< /OCGs [20 0 R 21 0 R] "
        b"/D << /BaseState /OFF /ON [20 0 R] >> >>")
    noocg = append_update(base, {3: page3, **ocgs})
    ocmd_extra = (
        b"/OC /M1 BDC BT /F1 12 Tf 72 650 Td (anyon) Tj ET EMC\n"
        b"/OC /M2 BDC BT /F1 12 Tf 72 620 Td (allon) Tj ET EMC\n")
    ocmd = append_update(
        build_pdf(["Visible body"], extra_content=ocmd_extra), {
            1: b"<< /Type /Catalog /Pages 2 0 R /OCProperties "
               b"<< /OCGs [20 0 R 21 0 R] /D << /OFF [21 0 R] >> >> >>",
            3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
                b"/Resources << /Font << /F1 5 0 R >> /Properties "
                b"<< /M1 22 0 R /M2 23 0 R >> >> >>"),
            **ocgs,
            22: b"<< /Type /OCMD /OCGs [20 0 R 21 0 R] >>",
            23: b"<< /Type /OCMD /OCGs [20 0 R 21 0 R] /P /AllOn >>",
        })
    docs = {"off.pdf": off, "baseoff.pdf": baseoff,
            "noocg.pdf": noocg, "ocmd.pdf": ocmd}
    pipe = ExtractionPipeline(
        spark=spark, features=["text"], codec=PdfCodec())
    return pipe.pages(docs).select("path", "page", "text")


# --------------------------------------------------------------- A44
@query(
    "a44_indexed_image_extract",
    sql="""
    SELECT * FROM (VALUES
      ('idx1.pdf', 1, 'INDEXED PALETTE', 90, 10,
       '45753292052beca0898afab6783df8182004c8e5a12563481b2ffec63824556a'),
      ('idx4.pdf', 1, 'INDEXED PALETTE', 90, 10,
       '67e33559fda2e3de95a4d8edc41d6c63ff0c738d0c2b7ce5605a7337a6024cc9'),
      ('idx8inv.pdf', 1, 'INDEXED PALETTE', 90, 10,
       'e6f8b6287e54d514c2306640e9fef8f8b6018e79c63548a7eb04b220c29933f0'),
      ('idxcmyk.pdf', 1, 'INDEXED PALETTE', 90, 10,
       '67e33559fda2e3de95a4d8edc41d6c63ff0c738d0c2b7ce5605a7337a6024cc9')
    ) t(path, page, ocr_text, img_w, img_h, sha0)
    """,
    tier="A",
)
def a44_indexed_image_extract(spark, sf_dir):
    """/Indexed (palette) image decode (ISO 32000-1 §8.6.6.3 —
    screenshots, diagrams, GIF/PNG-heritage scans): samples are
    LOOKUP-TABLE INDICES, and before round-11 the engine read them
    as gray values — a mis-decode for every paletted image. Four
    textless scanned pages, each decoding through a different
    palette shape and OCRing the raster text EXACTLY:

    - ``idx4.pdf``: 4-bit packed indices, /DeviceRGB gray-ramp
      palette (the common diagram shape; sub-byte row-padded
      unpacking).
    - ``idx8inv.pdf``: 8-bit indices through an INVERTED
      /DeviceGray palette — the palette is LOAD-BEARING: a raw
      index read would produce an inverted raster and OCR ''.
    - ``idx1.pdf``: 1-bit bilevel palette (index 1 = black).
    - ``idxcmyk.pdf``: /DeviceCMYK base palette, ramp in the K
      channel only (k-formula luma).

    ``sha0`` pins the raw packed sample payload (measured
    JVM-side); img dims come from the re-encoded PNG IHDR.
    Constant fixtures → full golden oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources import raster
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import build_pdf

    def pack(vals, w, h, bits):
        rowlen = (w * bits + 7) // 8
        out = bytearray(rowlen * h)
        per = 8 // bits
        for y in range(h):
            for x in range(w):
                sft = (per - 1 - (x % per)) * bits
                out[y * rowlen + x // per] |= vals[y * w + x] << sft
        return bytes(out)

    w, h, px = raster._rasterize("INDEXED PALETTE")
    px = bytes(px)
    idx = bytes(v >> 4 for v in px)
    pal = bytes(b for i in range(16) for b in (i * 17,) * 3)
    pal8 = bytes(255 - i for i in range(256))
    palc = bytes(b for i in range(16) for b in (0, 0, 0, 255 - i * 17))
    specs = {
        "idx4.pdf": (pack(idx, w, h, 4),
                     "[/Indexed /DeviceRGB 15 <" + pal.hex() + ">]", 4),
        "idx8inv.pdf": (bytes(255 - v for v in px),
                        "[/Indexed /DeviceGray 255 <" + pal8.hex()
                        + ">]", 8),
        "idx1.pdf": (pack(bytes(1 if v < 128 else 0 for v in px),
                          w, h, 1),
                     "[/Indexed /DeviceGray 1 <ff00>]", 1),
        "idxcmyk.pdf": (pack(idx, w, h, 4),
                        "[/Indexed /DeviceCMYK 15 <" + palc.hex()
                        + ">]", 4),
    }
    docs = {
        name: build_pdf([""], images=[{
            "width": w, "height": h, "data": data,
            "colorspace": cs, "bits": bits}])
        for name, (data, cs, bits) in specs.items()
    }
    pipe = ExtractionPipeline(
        spark=spark, features=["image", "ocr", "embedded_image"],
        codec=PdfCodec())

    def ihdr_field(pos: int) -> F.Column:
        return F.conv(
            F.hex(F.substring(F.col("image"), pos, 4)), 16, 10
        ).cast("int")

    return pipe.pages(docs).select(
        "path",
        "page",
        F.col("ocr").alias("ocr_text"),
        ihdr_field(17).alias("img_w"),
        ihdr_field(21).alias("img_h"),
        F.lower(F.sha2(F.col("embedded_image"), 256)).alias("sha0"),
    )


# --------------------------------------------------------------- A45
@query(
    "a45_metadata_extract",
    sql="""
    SELECT * FROM (VALUES
      ('dates.pdf', 1, 'Info Title', NULL,
       '2024-01-31T12:00:00+01:00', '2005-12-11T09:30:00Z'),
      ('mixed.pdf', 1, 'Info Title', 'Xmp Author',
       '2019-05-06T07:08:09Z', '2020-01-02T03:04:05+02:00'),
      ('none.pdf', 1, NULL, NULL, NULL, NULL),
      ('xmp.pdf', 1, 'XMP Doc Title', 'Xmp Author',
       '2019-05-06T07:08:09Z', '2020-01-02T03:04:05+02:00')
    ) t(path, page, title, author, creation_date, mod_date)
    """,
    tier="A",
)
def a45_metadata_extract(spark, sf_dir):
    """Document metadata with DATE NORMALIZATION and XMP fallback
    (ISO 32000-1 §7.9.4 / §14.3): /Info ``D:YYYYMMDDHHmmSSOHH'mm``
    dates normalize to sortable ISO 8601 (the recency-filter /
    dedup-tie-break curation surface), and documents carrying only
    a /Metadata XMP packet — increasingly the real-world shape —
    fill Title/Author/CreationDate/ModDate from dc:/xmp: elements
    (first rdf:li, attribute form tolerated). /Info wins where
    both exist:

    - ``dates.pdf``: /Info only — D:-dates with +01'00' and Z
      offsets normalize; no author.
    - ``xmp.pdf``: NO /Info — everything from the spliced XMP
      packet (its ISO dates pass through untouched).
    - ``mixed.pdf``: /Info Title wins over the XMP title; the XMP
      fills the missing author and dates.
    - ``none.pdf``: neither — all four columns NULL.

    Constant fixtures → full golden oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import append_update, build_pdf

    xmp = (b'<?xpacket begin="" id="W5M0MpCehiHzreSzNTczkc9d"?>\n'
           b'<x:xmpmeta xmlns:x="adobe:ns:meta/">\n'
           b' <rdf:RDF xmlns:rdf='
           b'"http://www.w3.org/1999/02/22-rdf-syntax-ns#">\n'
           b'  <rdf:Description rdf:about=""\n'
           b'    xmlns:dc="http://purl.org/dc/elements/1.1/"\n'
           b'    xmlns:xmp="http://ns.adobe.com/xap/1.0/">\n'
           b'   <dc:title><rdf:Alt><rdf:li xml:lang="x-default">'
           b'XMP Doc Title</rdf:li></rdf:Alt></dc:title>\n'
           b'   <dc:creator><rdf:Seq><rdf:li>Xmp Author</rdf:li>'
           b'</rdf:Seq></dc:creator>\n'
           b'   <xmp:CreateDate>2019-05-06T07:08:09Z'
           b'</xmp:CreateDate>\n'
           b'   <xmp:ModifyDate>2020-01-02T03:04:05+02:00'
           b'</xmp:ModifyDate>\n'
           b'  </rdf:Description>\n'
           b' </rdf:RDF>\n'
           b'</x:xmpmeta>\n'
           b'<?xpacket end="w"?>')

    def with_xmp(base: bytes) -> bytes:
        return append_update(base, {
            1: b"<< /Type /Catalog /Pages 2 0 R /Metadata 20 0 R >>",
            20: b"<< /Type /Metadata /Subtype /XML /Length "
                + str(len(xmp)).encode() + b" >>\nstream\n" + xmp
                + b"\nendstream",
        })

    docs = {
        "dates.pdf": build_pdf(["dated body"], info={
            "Title": "Info Title",
            "CreationDate": "D:20240131120000+01'00'",
            "ModDate": "D:20051211093000Z"}),
        "xmp.pdf": with_xmp(build_pdf(["xmp body"])),
        "mixed.pdf": with_xmp(
            build_pdf(["mixed body"], info={"Title": "Info Title"})),
        "none.pdf": build_pdf(["bare body"]),
    }
    pipe = ExtractionPipeline(
        spark=spark,
        features=["title", "author", "creation_date", "mod_date"],
        codec=PdfCodec())
    return pipe.pages(docs).select(
        "path", "page", "title", "author", "creation_date", "mod_date")


# --------------------------------------------------------------- A46
@query(
    "a46_doc_profile_extract",
    sql="""
    SELECT * FROM (VALUES
      ('enc.pdf', 1, '1.4', false, false, true),
      ('lin.pdf', 1, '1.4', true, false, false),
      ('plain.pdf', 1, '1.4', false, false, false),
      ('tagged.pdf', 1, '1.7', false, true, false)
    ) t(path, page, pdf_version, is_linearized, is_tagged,
        is_encrypted)
    """,
    tier="A",
)
def a46_doc_profile_extract(spark, sf_dir):
    """Structural document profile — the corpus-faceting feature
    block (pdf_version / is_linearized / is_tagged / is_encrypted):

    - ``plain.pdf``: the writer's 1.4 header, nothing else.
    - ``tagged.pdf``: catalog /Version /1.7 OVERRIDES the header
      (ISO 32000-1 §7.7.2 — incremental updates upgrade there) and
      /MarkInfo /Marked true flags the tagged-PDF shape.
    - ``lin.pdf``: a §F.3.1 linearization parameter dict near the
      file head (the web-optimized shape; the stale xref this
      splice leaves exercises object-scan resilience).
    - ``enc.pdf``: really RC4-encrypted (the codec opens it with
      the password); is_encrypted stays true AFTER successful
      decryption — the flag reports the file, not the session.

    Constant fixtures → full golden oracle."""
    from pdf2dataset_spark.extraction import ExtractionPipeline
    from pdf2dataset_spark.sources.codecs import PdfCodec
    from pdf2dataset_spark.sources.minipdf import append_update, build_pdf

    plain = build_pdf(["plain body"])
    enc = build_pdf(["secret body"], encrypt="pw")
    tagged = append_update(build_pdf(["tagged body"]), {
        1: b"<< /Type /Catalog /Pages 2 0 R /Version /1.7 "
           b"/MarkInfo << /Marked true >> >>"})
    head, rest = plain.split(b"\n", 1)
    lin = (head + b"\n9 0 obj\n<< /Linearized 1 /L 1234 /H [0 0] "
           b"/O 3 /E 100 /N 1 /T 500 >>\nendobj\n" + rest)
    docs = {"plain.pdf": plain, "enc.pdf": enc,
            "tagged.pdf": tagged, "lin.pdf": lin}
    pipe = ExtractionPipeline(
        spark=spark,
        features=["pdf_version", "is_linearized", "is_tagged",
                  "is_encrypted"],
        codec=PdfCodec(password="pw"))
    return pipe.pages(docs).select(
        "path", "page", "pdf_version", "is_linearized", "is_tagged",
        "is_encrypted")


# --------------------------------------------------------------- A38
# The first oracle rows whose input the engine's own build_pdf did
# NOT author (round-10 verdict ask #2): two genuine third-party PDFs
# the sandbox image ships under /usr/share/doc — libtasn1.pdf
# (36 pp, pdfTeX + subset Type1 CM fonts) and
# shared-mime-info-spec.pdf (17 pp, DocBook-sourced LaTeX/pdfTeX-hyperref + URW Nimbus
# fonts). The files are part of the image, so the pins are
# deterministic; on an image without them the query self-unregisters
# (conditional definition) rather than pinning the wrong corpus.
_REALWORLD_FILES = {
    "libtasn1.pdf": "/usr/share/doc/libtasn1-doc/libtasn1.pdf",
    "shared-mime-info-spec.pdf":
        "/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf",
}

if all(__import__("os").path.exists(p)
       for p in _REALWORLD_FILES.values()):
    @query(
        "a38_realworld_extract",
        sql="""
    SELECT * FROM (VALUES
      ('libtasn1.pdf', 1, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '498dd25ea76b1c0df1b5fea0af75a9f0dc36cbdcb201b100bfe2527732f3a882', 187),
      ('libtasn1.pdf', 2, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '09af8e192368febd07926c089f39f280d03d66990ba6028270de5d471866a7ba', 601),
      ('libtasn1.pdf', 3, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       'a50bbbaefecadb636005c5a4247e94cdcb7cbcaa3e19eec2d561c5ec4fd03d5e', 1353),
      ('libtasn1.pdf', 4, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '3f8036c6ddcc9d0a60b6c6ae7241ea63057a819c905e66b3ed606e49d31855e8', 1174),
      ('libtasn1.pdf', 5, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       'cad11f0cf0fa5cf3236683c97446582bc8d232756450ddc8f670150b63882fe3', 962),
      ('libtasn1.pdf', 6, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       'd91e32d2fdd4c89f9a0dacbfb70e749b4602944eeeee6fd8e7b4e9097b8fbb20', 1063),
      ('libtasn1.pdf', 7, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       'db879e62fba31c67494137209c97adf7795e058268239dea688c6ddd6f410341', 974),
      ('libtasn1.pdf', 8, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '65053a3cfbecc37fbe8c9072f57871cfc9f33acb013b10f5babbd49961c9d9a9', 1546),
      ('libtasn1.pdf', 9, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '4682b6be6a393b6eced9a83ce0dbae96576c63943bdb2315b5f67c584939d9e8', 910),
      ('libtasn1.pdf', 10, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       'e94072070af0ac99196ab35c9db37857fb5ba4b1ca23453f97ec2a1a72f55cfd', 969),
      ('libtasn1.pdf', 11, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '816fc0863ec10c9576f909ca828117e4362494cf96ce7e2206f65081c50ca149', 2139),
      ('libtasn1.pdf', 12, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '427b7960619ffdc59fdcccfd7005389fbef36d0e1d7e1ab8af7bc873b1af635a', 1818),
      ('libtasn1.pdf', 13, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '5bc69ce3126956c84029d2882f133885dfb012228f049ca0a8cb759f7830dbad', 2017),
      ('libtasn1.pdf', 14, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       'def3ab61603a2c0fac710d1578786285959514324a68868e6688ed2467e2a4c2', 1854),
      ('libtasn1.pdf', 15, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '80e3cd6e70136658c5a16912c7420d8a0a7f539c7afb596d5414b0e9a3e5bcf7', 2339),
      ('libtasn1.pdf', 16, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '7547088ee26b5d4d5317487aa2a511149c2c3fdba2a1ecf842fb7e159b8c28bb', 2321),
      ('libtasn1.pdf', 17, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '78db6ab6d5e28b51d9b21c4e8578426728c98577024ea53d9b90d9a6668e4cc8', 2504),
      ('libtasn1.pdf', 18, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       'eee10962f7e588720379bbefd085341c2fcd6cb90b1d8a61386c4a1ae6b9a016', 1839),
      ('libtasn1.pdf', 19, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '08c9aec5d83341313cb3a15b20924bdd5b67e96072f322384f6772f51a95aaad', 1940),
      ('libtasn1.pdf', 20, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '13fb9de0d48046c615e0564eefd0ed43c90b085f52e5df5e4b7eaca7b2ad4913', 2089),
      ('libtasn1.pdf', 21, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '5c620a44e41cd8c4ff66d1fd9e11639945138d65cd7369bba07f0e8ada0b7b51', 1945),
      ('libtasn1.pdf', 22, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '3a3eafd7bdca393b92974b3b03f1f3c51392b9ebc7e23c7946de9404de037f9a', 2189),
      ('libtasn1.pdf', 23, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       'cab245888fb56ce5e2d0bd95f0e0e0daffc5aa8cda9c184b3523b8cc351aa3d5', 2348),
      ('libtasn1.pdf', 24, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '110f5ac7b7804d515553cc4c3db4be920ed6227c9efe998881dba4fcd9a3f606', 2578),
      ('libtasn1.pdf', 25, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       'e380f79719c225cfad4793c666b5b417bd01f4ef3296c3b8e4d9a42ce7693fb6', 1614),
      ('libtasn1.pdf', 26, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '6d05ccddc320eb00f0f636dffd4b6c1482fd51f9b9da9060e32893da3a8dbb0f', 1367),
      ('libtasn1.pdf', 27, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '0941c9f0429a50bf8323fad1d68a12251eb28749919dca93ae43a340310fd781', 2851),
      ('libtasn1.pdf', 28, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       'ae6b4304d76469e6061dfd8670683750f7bf84b7e4c7a55a8bb6aa3c2b3b7744', 3513),
      ('libtasn1.pdf', 29, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '0561fa8d86373d047ba28f54ad47d519171c88d4b1764c0015b206ac1154147f', 3196),
      ('libtasn1.pdf', 30, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       'feea373fe51e7a2061c0ddbd18d6d50eb4cc3e681c3df49a5a712931b4dc2bea', 3064),
      ('libtasn1.pdf', 31, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       'b0ee7ed76b642da93a3554818be0045a393d2cdf496100c2c7dba1788560efa7', 3245),
      ('libtasn1.pdf', 32, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '37b100b573958332c1adf2b377127ff32625806928da1b00273ba0445f6eef1c', 3312),
      ('libtasn1.pdf', 33, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       'c4c45d2b1354b95739be0faebd8cb32b81b8768f0436a925f35d425e6717f772', 2462),
      ('libtasn1.pdf', 34, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '45fc99dda832e192b027beaa5786ba7d21705493c934cfcea0be046f22674a60', 1296),
      ('libtasn1.pdf', 35, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '16a72f0efb05a62d6d11ca7f0362b2974267143d915871ef0546ed67e7951b33', 575),
      ('libtasn1.pdf', 36, 36,
       'AKEQKS+CMTT10,AQTFCU+CMSY10,CUJHND+CMMI10,ECEDAZ+CMBX12,FFYKXD+CMSS10,GCLVEE+CMSL10,GPANTX+CMMI12,HASPPL+CMTT12,HCAYNJ+CMR9,LCHKSO+CMB10,NARWJO+CMTT9,PQILTH+CMMI9,PWNLKT+CMR10,SMDJOQ+CMSLTT10',
       '07f0a85a169ba7239b16448cdba3c8c64def60dd3e927672fc6e18b89117ec9d', 2021),
      ('shared-mime-info-spec.pdf', 1, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       '4d79360305950c231e9744fdae4c026b82e214b3e85c8eb189c89fdf85bc4826', 1401),
      ('shared-mime-info-spec.pdf', 2, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       'cf3a4bf060140d2ecb2e288fe9d8b419f30135f7452a66286272c6e69d048857', 1990),
      ('shared-mime-info-spec.pdf', 3, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       '4fa2249480107b8b511b74d4ff380b91c54baae238c6001c4a406daa3dbbe478', 2727),
      ('shared-mime-info-spec.pdf', 4, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       'f43b1590094a9f0d7e1a61cfa8e8ff82a1b299c07d8ee3cb4a9d2836ee701940', 2457),
      ('shared-mime-info-spec.pdf', 5, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       '3c136e7e1a8f69d02f9e9abaf28ec0692046f93178b75f9cfff50feacdf9c2e8', 3088),
      ('shared-mime-info-spec.pdf', 6, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       '980435eac2b1bbc0120fe4690f2d0ddc51deb73eb29f07d535fa6b54ba1b8e7d', 1857),
      ('shared-mime-info-spec.pdf', 7, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       'd690d03bdec0b50ae44f2f0e87d7eb4fe01d16e569f087121f6d0091150d1be2', 1881),
      ('shared-mime-info-spec.pdf', 8, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       'bac4e3dbadbcf00616f86eb2eec01e90753fe586043d31f994558eb854d3231a', 2475),
      ('shared-mime-info-spec.pdf', 9, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       '3d0c4d987dc2640f8b6a5da9ec89b33659d5c210cb8d8e3d1e98a51fc0409950', 2084),
      ('shared-mime-info-spec.pdf', 10, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       'ba225c3815968a5ecf1c6134ac526032efe8a0f7d70ae82b4656407509657a29', 1502),
      ('shared-mime-info-spec.pdf', 11, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       'bd44ff2b0050761bef31d420b105ac775fed65c396d29ec5c8e0c1ff59473b46', 1115),
      ('shared-mime-info-spec.pdf', 12, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       'f42a210188a1d95bf0ddb2373d63bde6b5171bef057e9b822c3a8eeda4881694', 899),
      ('shared-mime-info-spec.pdf', 13, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       'f2dfcc429e1a73781325673d66577225e060b082d70cadc6ed5299f9256e1206', 1477),
      ('shared-mime-info-spec.pdf', 14, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       '7cecf98ae6ca11c9d94170b606c17d34adb44b6a5709eb607c501a4f8215679f', 2369),
      ('shared-mime-info-spec.pdf', 15, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       '782598be08aa7747b38e85958eea3cc0ce149381a53f979f62f100e038749159', 2749),
      ('shared-mime-info-spec.pdf', 16, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       'c2c55819242e7405796181b0d0eb49fa5e3845b15e9ebe0a9fae48b4f8b5141d', 2223),
      ('shared-mime-info-spec.pdf', 17, 17,
       'BGWWRR+CMR6,JNNPWA+NimbusMonL-Regu,OLMHVN+NimbusRomNo9L-Regu,OYKDMY+NimbusMonL-Bold,SEBOZB+NimbusRomNo9L-Medi,VEQMBL+NimbusRomNo9L-ReguItal,XMKENB+NimbusSanL-Bold',
       '143bc92885f4cf2565e7eea53ab4c21e4a753d134be9b52f022a79031c9f211d', 1363)
    ) t(path, page, n_pages, fonts, text_sha, n_chars)
    """,
        tier="A",
    )
    def a38_realworld_extract(spark, sf_dir):
        """REAL-WORLD extraction golden (round-10): the two genuine
        third-party PDFs from /usr/share/doc run the full fused
        extraction pipeline; every page pins the sha256 of its
        LAYOUT text (word-spaced, © overlay composed — the round-10
        Type1/TeX fixes), its char count, the document page count
        (window count over the fan-out, not a driver count), and
        the document's /BaseFont inventory (a 2-row driver-built
        dim; joined WITHOUT a pinned broadcast hint — a per-doc dim
        grows with the corpus in general, so the size-based planner
        decides, which at fixture size means a broadcast join
        anyway; the corpus itself never leaves executors). 53/53
        pages carry text. Scale shape: identical to a5 — one
        mapInArrow fan-out, page grain, no driver collect of page
        data."""
        from pyspark.sql import Window

        from pdf2dataset_spark.extraction import ExtractionPipeline
        from pdf2dataset_spark.sources.codecs import PdfCodec
        from pdf2dataset_spark.sources.minipdf import PdfDocument

        docs = {}
        fonts_rows = []
        for name, path in _REALWORLD_FILES.items():
            with open(path, "rb") as f:
                data = f.read()
            docs[name] = data
            doc = PdfDocument(data)
            fonts = set()
            for pg in doc.pages():
                res = doc.resolve(pg.get("/Resources"))
                fd = doc.resolve(res.get("/Font")) \
                    if isinstance(res, dict) else None
                if isinstance(fd, dict):
                    for ref in fd.values():
                        fo = doc.resolve(ref)
                        bf = doc.resolve(fo.get("/BaseFont")) \
                            if isinstance(fo, dict) else None
                        if isinstance(bf, str):
                            fonts.add(bf.lstrip("/"))
            fonts_rows.append((name, ",".join(sorted(fonts))))
        fonts_dim = spark.createDataFrame(
            fonts_rows, "path string, fonts string"
        )
        pipe = ExtractionPipeline(
            spark=spark, features=["text"], codec=PdfCodec()
        )
        pages = pipe.pages(docs)
        return (
            pages
            .withColumn(
                "n_pages",
                F.count("*").over(Window.partitionBy("path")).cast("int"),
            )
            .join(fonts_dim, "path")
            .select(
                "path",
                "page",
                "n_pages",
                "fonts",
                F.sha2(F.encode(F.col("text"), "UTF-8"), 256)
                .alias("text_sha"),
                F.length("text").cast("int").alias("n_chars"),
            )
        )
