"""A6/A7 — pure-stdlib page render (PNG) + pixel OCR round trip."""

from __future__ import annotations

import itertools

import pytest

from pdf2dataset_spark.sources import minipdf, raster
from pdf2dataset_spark.sources.codecs import PdfCodec


def test_glyphs_pairwise_distinct_and_nonblank():
    glyphs = {c: tuple(raster.glyph_rows(chr(c))) for c in range(32, 127)}
    for (a, ga), (b, gb) in itertools.combinations(glyphs.items(), 2):
        assert ga != gb, (chr(a), chr(b))
    # no printable glyph may be blank (blank means padding to OCR)
    for c, g in glyphs.items():
        assert any(g), chr(c)


def test_png_encode_decode_roundtrip():
    w, h, px = 11, 5, bytes(range(55))
    out = raster.decode_png(raster.encode_png(w, h, px))
    assert out == (w, h, bytearray(px))


def test_render_ocr_roundtrip():
    text = "Hello OCR 123\nsecond line!\n\ntabs not here, just text"
    png = raster.render_text_png(text)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert raster.ocr_png(png) == text


def test_resize_changes_dims_and_breaks_ocr_cleanly():
    png = raster.render_text_png("resize me", size=(64, 32))
    w, h, _ = raster.decode_png(png)
    assert (w, h) == (64, 32)
    with pytest.raises(ValueError, match="native-resolution"):
        raster.ocr_png(png)


def test_render_ocr_roundtrip_property():
    """Property: any printable-ASCII multi-line text round-trips
    render → PNG → OCR exactly (modulo trailing spaces, which are
    indistinguishable from cell padding by design)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    line = st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        max_size=20,
    )
    text = st.lists(line, min_size=1, max_size=4).map("\n".join)

    @settings(max_examples=25, deadline=None)
    @given(t=text)
    def check(t):
        assert raster.ocr_png(raster.render_text_png(t)) == t

    check()


def test_pdf_codec_image_and_ocr_features():
    """A6+A7 through the codec: real PDF bytes → page render (PNG) →
    pixel OCR recovers the extracted text exactly."""
    pages = ["page one body", "and page two"]
    codec = PdfCodec()
    h = codec.open(minipdf.build_pdf(pages))
    for i, want in enumerate(pages, start=1):
        img = codec.page_image(h, i)
        assert img[:8] == b"\x89PNG\r\n\x1a\n"
        assert raster.ocr_png(img) == want
        assert codec.page_ocr(h, i) == want


def test_pdf_codec_image_size_plumbs_through():
    codec = PdfCodec(image_size="48x24")
    h = codec.open(minipdf.build_pdf(["sized page"]))
    w, hh, _ = raster.decode_png(codec.page_image(h, 1))
    assert (w, hh) == (48, 24)


def test_extraction_pipeline_all_features_with_pdf_codec(spark):
    """The upstream flagship call shape — text + image + ocr features
    over real PDFs through the fused Spark pipeline."""
    import pdf2dataset_spark as p

    pages = ["alpha page", "beta page"]
    docs = {"d.pdf": minipdf.build_pdf(pages, compress=True)}
    out = p.extract(
        docs, spark=spark, small=True, use_pdf_codec=True,
        features=["text", "image", "ocr"],
    ).sort_values("page")
    assert list(out.text) == pages
    assert list(out.ocr) == pages
    for img in out.image:
        assert bytes(img[:8]) == b"\x89PNG\r\n\x1a\n"


def test_jpeg_encode_decode_roundtrip():
    """Built-in baseline JPEG: decode(encode(img)) must recover the
    image within quantization error (high quality -> small error),
    and byte output must be deterministic."""
    import numpy as np

    from pdf2dataset_spark.sources.jpeg import decode_jpeg, encode_jpeg

    w, h = 37, 21  # non-multiple-of-8 exercises edge padding
    px = bytes(((x * 7 + y * 11) % 256) for y in range(h) for x in range(w))
    data = encode_jpeg(w, h, px, quality=90)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    w2, h2, out = decode_jpeg(data)
    assert (w2, h2) == (w, h)
    a = np.frombuffer(px, dtype=np.uint8).astype(int)
    b = np.frombuffer(out, dtype=np.uint8).astype(int)
    assert np.abs(a - b).mean() < 3.0
    assert np.abs(a - b).max() <= 32
    assert encode_jpeg(w, h, px, quality=90) == data  # deterministic


def test_jpeg_quality_tradeoff():
    """Lower quality -> smaller file, larger error (sanity that the
    quantization scaling actually scales)."""
    import numpy as np

    from pdf2dataset_spark.sources.jpeg import decode_jpeg, encode_jpeg

    w, h = 64, 64
    px = bytes(((x * 5 + y * 3) % 256) for y in range(h) for x in range(w))
    hi = encode_jpeg(w, h, px, quality=95)
    lo = encode_jpeg(w, h, px, quality=25)
    assert len(lo) < len(hi)
    a = np.frombuffer(px, dtype=np.uint8).astype(int)
    err_hi = np.abs(a - np.frombuffer(decode_jpeg(hi)[2], np.uint8).astype(int)).mean()
    err_lo = np.abs(a - np.frombuffer(decode_jpeg(lo)[2], np.uint8).astype(int)).mean()
    assert err_hi <= err_lo


def test_pdf_codec_jpeg_format_without_native_deps():
    """image_format='jpeg' must work with zero native deps: the page
    renders through the built-in raster + baseline JPEG encoder, and
    the payload decodes to the same dimensions as the PNG path."""
    from pdf2dataset_spark.sources.jpeg import decode_jpeg

    codec = PdfCodec(image_format="jpeg")
    handle = codec.open(minipdf.build_pdf(["jpeg page text"]))
    payload = codec.page_image(handle, 1)
    assert payload[:2] == b"\xff\xd8"
    w, h, _ = decode_jpeg(payload)
    pw, ph, _ = raster._rasterize("jpeg page text")
    assert (w, h) == (pw, ph)


def test_pdf_codec_jpeg_resize():
    from pdf2dataset_spark.sources.jpeg import decode_jpeg

    codec = PdfCodec(image_format="jpeg", image_size="32x16")
    handle = codec.open(minipdf.build_pdf(["resized"]))
    w, h, _ = decode_jpeg(codec.page_image(handle, 1))
    assert (w, h) == (32, 16)


def test_jpeg_roundtrip_property():
    """Property: any image, any quality >= 70 — encode/decode stays
    within a bounded error envelope and never crashes (random pixel
    content is the JPEG worst case, so the bound is loose but real)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf2dataset_spark.sources.jpeg import decode_jpeg, encode_jpeg

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        seed=st.integers(0, 2**31),
        quality=st.integers(70, 100),
    )
    def check(w, h, seed, quality):
        rng = np.random.RandomState(seed)
        px = rng.randint(0, 256, size=w * h, dtype=np.uint8).tobytes()
        w2, h2, out = decode_jpeg(encode_jpeg(w, h, px, quality=quality))
        assert (w2, h2) == (w, h)
        a = np.frombuffer(px, np.uint8).astype(int)
        b = np.frombuffer(out, np.uint8).astype(int)
        # random noise is JPEG-hostile; mean error still must be bounded
        assert np.abs(a - b).mean() < 64

    check()


# ---------------------------------------------------------------------
# color / general baseline JPEG decoding
# ---------------------------------------------------------------------


def _gradient_rgb(w, h):
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [xx * 255 // max(w - 1, 1), yy * 255 // max(h - 1, 1),
         (xx + yy) * 255 // max(w + h - 2, 1)],
        axis=-1,
    ).astype(np.uint8)


def test_color_jpeg_roundtrip_444():
    import numpy as np

    from pdf2dataset_spark.sources.jpeg import (
        decode_jpeg,
        decode_jpeg_gray,
        encode_jpeg,
    )

    w, h = 40, 24
    rgb = _gradient_rgb(w, h)
    data = encode_jpeg(w, h, rgb.tobytes(), quality=95, ncomp=3)
    w2, h2, out = decode_jpeg(data)
    assert (w2, h2) == (w, h) and len(out) == 3 * w * h
    err = np.abs(
        rgb.astype(int)
        - np.frombuffer(out, np.uint8).reshape(h, w, 3).astype(int)
    ).max()
    assert err <= 8, err  # smooth gradients survive q95 nearly exactly
    wg, hg, gray = decode_jpeg_gray(data)
    assert (wg, hg, len(gray)) == (w, h, w * h)


def _encode_420_with_restarts(rgb, quality=95, restart=0):
    """Test-local 4:2:0 encoder (Y 2x2, chroma 1x1, optional DRI/RSTn)
    built from the module's own primitives — exists to exercise the
    DECODER's subsampled-MCU and restart paths, which the shipping
    4:4:4 encoder never emits."""
    import struct as st

    import numpy as np

    from pdf2dataset_spark.sources import jpeg as J

    h, w = rgb.shape[:2]
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    # chroma: 2x2 box downsample
    def down(p):
        ph, pw = -(-h // 2) * 2, -(-w // 2) * 2
        p = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
        return (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4

    qt_l, qt_c = J._quant_table(quality), J._quant_table_chroma(quality)
    # pad Y to 16-multiples so MCUs are complete; chroma to 8-multiples
    ph, pw = -(-h // 16) * 16, -(-w // 16) * 16

    def pad_to(p, hh, ww):
        return np.pad(
            p.astype(np.float64) - 128.0,
            ((0, hh - p.shape[0]), (0, ww - p.shape[1])),
            mode="edge",
        )

    zz_y = J._plane_to_zz(pad_to(np.clip(np.round(y), 0, 255), ph, pw), qt_l)
    zz_cb = J._plane_to_zz(
        pad_to(np.clip(np.round(down(cb)), 0, 255), ph // 2, pw // 2), qt_c
    )
    zz_cr = J._plane_to_zz(
        pad_to(np.clip(np.round(down(cr)), 0, 255), ph // 2, pw // 2), qt_c
    )
    ybx = pw // 8  # Y blocks per row
    cbx = pw // 16
    bw = J._BitWriter()
    prev = [0, 0, 0]
    mcu_n = 0
    out_chunks = []
    rst = 0
    for my in range(ph // 16):
        for mx in range(pw // 16):
            if restart and mcu_n and mcu_n % restart == 0:
                bw.flush()
                out_chunks.append(bytes(bw.out))
                out_chunks.append(bytes([0xFF, 0xD0 + rst % 8]))
                rst += 1
                bw = J._BitWriter()
                prev = [0, 0, 0]
            for v in range(2):
                for hh in range(2):
                    blk = zz_y[(my * 2 + v) * ybx + mx * 2 + hh]
                    prev[0] = J._write_block(
                        bw, blk, prev[0], J._DC_CODES, J._AC_CODES
                    )
            prev[1] = J._write_block(
                bw, zz_cb[my * cbx + mx], prev[1], J._DC_CODES_C, J._AC_CODES_C
            )
            prev[2] = J._write_block(
                bw, zz_cr[my * cbx + mx], prev[2], J._DC_CODES_C, J._AC_CODES_C
            )
            mcu_n += 1
    bw.flush()
    out_chunks.append(bytes(bw.out))
    qtl = qt_l.reshape(-1)[J._ZIGZAG].astype(np.uint8)
    qtc = qt_c.reshape(-1)[J._ZIGZAG].astype(np.uint8)
    segs = [
        b"\xff\xd8",
        J._segment(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"),
        # both quant tables in ONE DQT segment (multi-table parsing)
        J._segment(0xFFDB, b"\x00" + qtl.tobytes() + b"\x01" + qtc.tobytes()),
        J._segment(
            0xFFC0,
            st.pack(">BHHB", 8, h, w, 3)
            + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
        ),
        # all four huffman tables in ONE DHT segment
        J._segment(
            0xFFC4,
            bytes([0x00]) + bytes(J._DC_BITS) + bytes(J._DC_VALS)
            + bytes([0x10]) + bytes(J._AC_BITS) + bytes(J._AC_VALS)
            + bytes([0x01]) + bytes(J._DC_BITS_C) + bytes(J._DC_VALS_C)
            + bytes([0x11]) + bytes(J._AC_BITS_C) + bytes(J._AC_VALS_C),
        ),
    ]
    if restart:
        segs.append(J._segment(0xFFDD, st.pack(">H", restart)))
    segs.append(
        J._segment(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    )
    segs.extend(out_chunks)
    segs.append(b"\xff\xd9")
    return b"".join(segs)


@pytest.mark.parametrize("restart", [0, 2])
def test_decode_420_subsampled_with_and_without_restarts(restart):
    import numpy as np

    from pdf2dataset_spark.sources.jpeg import decode_jpeg

    w, h = 48, 32
    rgb = _gradient_rgb(w, h)
    data = _encode_420_with_restarts(rgb, quality=95, restart=restart)
    w2, h2, out = decode_jpeg(data)
    assert (w2, h2) == (w, h) and len(out) == 3 * w * h
    got = np.frombuffer(out, np.uint8).reshape(h, w, 3).astype(int)
    # 4:2:0 chroma is quarter-res: loose bound on color, tight on luma
    y_err = np.abs(
        (0.299 * got[..., 0] + 0.587 * got[..., 1] + 0.114 * got[..., 2])
        - (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2])
    ).max()
    assert y_err <= 10, y_err
    assert np.abs(got - rgb.astype(int)).mean() <= 8


def test_flipped_sof_marker_is_invalid_progressive_not_crash():
    """A baseline stream whose SOF0 is flipped to SOF2 is NOT a valid
    progressive file (its scan declares the full 0-63 band, which
    progressive DC scans may not) — named error, no misdecode."""
    from pdf2dataset_spark.sources.jpeg import decode_jpeg, encode_jpeg

    px = bytes(range(64))
    data = bytearray(encode_jpeg(8, 8, px))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC2  # flip SOF0 -> SOF2
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(data))


def test_progressive_decode_matches_baseline_exactly():
    """SOF2 spectral-selection + successive-approximation decode: the
    progressive and baseline encoders share quantized coefficients,
    so their decodes must be BIT-identical — across gray/color, odd
    dims, qualities, noise (dense AC), and flat images (long EOB
    runs)."""
    import numpy as np

    from pdf2dataset_spark.sources.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(7)
    cases = []
    px = bytes((x * 16 + y) % 256 for y in range(24) for x in range(40))
    cases.append((40, 24, px, 85, 1))
    w, h = 48, 32
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1),
         (xx * yy * 255) // ((w - 1) * (h - 1))], axis=-1
    ).astype(np.uint8)
    cases.append((w, h, rgb.tobytes(), 92, 3))
    for q in (30, 95):
        cases.append(
            (23, 17, rng.integers(0, 256, (17, 23), dtype=np.uint8).tobytes(), q, 1)
        )
        cases.append(
            (21, 19, rng.integers(0, 256, (19, 21, 3), dtype=np.uint8).tobytes(), q, 3)
        )
    flat = np.full((64, 80), 200, np.uint8)
    flat[30:34, 40:44] = 0  # long EOB runs + one busy region
    cases.append((80, 64, flat.tobytes(), 85, 1))
    for w, h, p, q, nc in cases:
        base = decode_jpeg(encode_jpeg(w, h, p, quality=q, ncomp=nc))
        prog = decode_jpeg(encode_jpeg_progressive(w, h, p, quality=q, ncomp=nc))
        assert base == prog, f"w={w} h={h} q={q} ncomp={nc}"


def test_progressive_embedded_image_decodable_and_phash_stable():
    """A progressive /DCTDecode XObject is decodable and its
    perceptual hash equals the baseline encoding's (identical
    pixels -> identical pHash) — the f40 stability contract."""
    import numpy as np

    from pdf2dataset_spark.operators import image_hash as ih
    from pdf2dataset_spark.sources import minipdf
    from pdf2dataset_spark.sources.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
    )

    w, h = 32, 16
    yy, xx = np.mgrid[0:h, 0:w]
    px = ((xx * 13 + yy * 29) % 256).astype(np.uint8).tobytes()
    base = encode_jpeg(w, h, px, quality=90)
    prog = encode_jpeg_progressive(w, h, px, quality=90)
    pdf = minipdf.build_pdf(
        ["progressive page"],
        images=[{"filter": "/DCTDecode", "width": w, "height": h,
                 "data": prog}],
    )
    (entry,) = minipdf.extract_page_images(pdf)[0]
    assert entry["format"] == "jpeg" and entry["decodable"] is True
    assert entry["data"] == prog
    assert ih.phash64(prog) == ih.phash64(base)


def test_color_jpeg_flows_through_page_images_and_phash():
    """An embedded COLOR /DCTDecode XObject is now decodable: dims
    come from the stream and the perceptual hash consumes it via the
    luminance path."""
    from pdf2dataset_spark.operators import image_hash as ih
    from pdf2dataset_spark.sources.jpeg import encode_jpeg

    w, h = 32, 16
    rgb = _gradient_rgb(w, h)
    jpg = encode_jpeg(w, h, rgb.tobytes(), quality=90, ncomp=3)
    pdf = minipdf.build_pdf(
        ["color"], images=[{
            "filter": "/DCTDecode", "width": w, "height": h, "data": jpg,
            "colorspace": "/DeviceRGB",
        }]
    )
    (entry,) = minipdf.extract_page_images(pdf)[0]
    assert entry["format"] == "jpeg" and entry["decodable"] is True
    assert (entry["width"], entry["height"]) == (w, h)
    assert isinstance(ih.phash64(entry["data"]), int)


def test_gray_jpeg_with_declared_2x2_sampling_decodes():
    """T.81 A.2: a single-component scan is NON-interleaved whatever
    the SOF sampling byte says — a gray file declaring 2x2 luma
    sampling must decode identically to the 1x1 spelling."""
    import numpy as np

    from pdf2dataset_spark.sources.jpeg import decode_jpeg, encode_jpeg

    w, h = 24, 24
    px = bytes((x * 7 + y * 3) % 256 for y in range(h) for x in range(w))
    data = bytearray(encode_jpeg(w, h, px, quality=95))
    base = decode_jpeg(bytes(data))[2]
    i = data.find(b"\xff\xc0")
    # FFC0(2) len(2) prec(1) h(2) w(2) ncomp(1) cid(1) samp(1)
    assert data[i + 11] == 0x11
    data[i + 11] = 0x22
    w2, h2, out = decode_jpeg(bytes(data))
    assert (w2, h2) == (w, h) and out == base


def test_missing_eoi_still_decodes():
    from pdf2dataset_spark.sources.jpeg import decode_jpeg, encode_jpeg

    px = bytes(range(64))
    data = encode_jpeg(8, 8, px, quality=95)
    assert data.endswith(b"\xff\xd9")
    full = decode_jpeg(data)[2]
    assert decode_jpeg(data[:-2])[2] == full  # EOI stripped


def test_undefined_tables_raise_valueerror_not_keyerror():
    import struct as st

    from pdf2dataset_spark.sources.jpeg import decode_jpeg, encode_jpeg

    px = bytes(range(64))
    data = bytearray(encode_jpeg(8, 8, px))
    i = data.find(b"\xff\xda")
    data[i + 6] = 0x11  # SOS points at undefined DC/AC table id 1
    with pytest.raises(ValueError, match="Huffman"):
        decode_jpeg(bytes(data))


# ---------------------------------------------------------------------
# scanned-document routing (no text layer -> embedded image + OCR)
# ---------------------------------------------------------------------


def _scan_fixture():
    import numpy as np  # noqa: F401  (parity with sibling fixtures)

    text = "SCANNED PAGE 42\nsecond line"
    w, h, px = raster._rasterize(text)
    return text, w, h, bytes(px)


def test_scanned_page_routes_embedded_image_into_image_and_ocr():
    """A page with NO text operators and an embedded raw-sample scan:
    image = decoded scan re-encoded as PNG, ocr = grid OCR over the
    decoded pixels (exact for scans of the engine's own raster)."""
    text, w, h, px = _scan_fixture()
    pdf = minipdf.build_pdf([""], images=[{"width": w, "height": h, "data": px}])
    codec = PdfCodec()
    hd = codec.open(pdf)
    assert codec.page_text(hd, 1) == ""
    img = codec.page_image(hd, 1)
    assert raster.decode_png(img) == (w, h, bytearray(px))
    assert codec.page_ocr(hd, 1) == text


def test_scanned_page_jpeg_and_progressive_payloads_ocr_exactly():
    """Lossy JPEG scans (baseline AND progressive) of the engine's own
    raster still OCR exactly: threshold binarization recovers the
    bitmap from quantization noise."""
    from pdf2dataset_spark.sources.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
    )

    text, w, h, px = _scan_fixture()
    for enc in (encode_jpeg, encode_jpeg_progressive):
        pdf = minipdf.build_pdf(
            [""],
            images=[{"filter": "/DCTDecode", "width": w, "height": h,
                     "data": enc(w, h, px, quality=90)}],
        )
        codec = PdfCodec()
        hd = codec.open(pdf)
        assert codec.page_ocr(hd, 1) == text, enc.__name__
        got_w, got_h, _ = raster.decode_png(codec.page_image(hd, 1))
        assert (got_w, got_h) == (w, h)


def test_foreign_scan_yields_image_but_empty_ocr():
    """A scan the grid OCR cannot read (not cell-aligned): the image
    feature still carries the decoded payload; ocr returns '' honestly
    instead of garbage or a crash."""
    foreign = bytes((i * 37 + 11) % 256 for i in range(13 * 7))
    pdf = minipdf.build_pdf(
        [""], images=[{"width": 13, "height": 7, "data": foreign}]
    )
    codec = PdfCodec()
    hd = codec.open(pdf)
    assert raster.decode_png(codec.page_image(hd, 1)) == (13, 7, bytearray(foreign))
    assert codec.page_ocr(hd, 1) == ""


def test_text_layer_takes_precedence_over_embedded_images():
    """A page WITH text keeps the text-layer render/OCR even when it
    also embeds images (only truly scanned pages reroute)."""
    text, w, h, px = _scan_fixture()
    pdf = minipdf.build_pdf(
        ["has a text layer"], images=[{"width": w, "height": h, "data": px}]
    )
    codec = PdfCodec()
    hd = codec.open(pdf)
    assert codec.page_ocr(hd, 1) == "has a text layer"
    iw, ih, _ = raster.decode_png(codec.page_image(hd, 1))
    assert (iw, ih) == (96, 10)  # 16 chars x 6, 1 line x 10


def test_scanned_page_honors_image_size_and_jpeg_format():
    """The scan render path respects image_size (nearest resize) and
    image_format='jpeg' (engine encoder) like the text-layer path."""
    from pdf2dataset_spark.sources.jpeg import decode_jpeg

    text, w, h, px = _scan_fixture()
    pdf = minipdf.build_pdf([""], images=[{"width": w, "height": h, "data": px}])
    codec = PdfCodec(image_size="45x10")
    hd = codec.open(pdf)
    assert raster.decode_png(codec.page_image(hd, 1))[:2] == (45, 10)
    codec_j = PdfCodec(image_format="jpeg")
    hd = codec_j.open(pdf)
    payload = codec_j.page_image(hd, 1)
    assert payload[:2] == b"\xff\xd8"
    assert decode_jpeg(payload)[:2] == (w, h)


def test_scanned_page_color_raw_reduces_to_luma():
    """An RGB raw-sample scan reduces to BT.601 luma for the gray
    render/OCR path."""
    import numpy as np

    rgb = np.zeros((10, 12, 3), np.uint8)
    rgb[..., 0] = 255  # pure red -> luma 76
    pdf = minipdf.build_pdf(
        [""],
        images=[{"width": 12, "height": 10, "data": rgb.tobytes(),
                 "colorspace": "/DeviceRGB"}],
    )
    codec = PdfCodec()
    hd = codec.open(pdf)
    w, h, px = raster.decode_png(codec.page_image(hd, 1))
    assert (w, h) == (12, 10)
    assert set(px) == {76}


def test_headerless_and_truncated_jpegs_raise_valueerror():
    """Round-5 review follow-ups: a stream with SOF/DQT but NO SOS
    must raise (not fabricate a flat-gray image that would poison
    pHash and scanned-page routing), and a stream cut at a lone
    trailing 0xFF must raise ValueError, never struct.error."""
    from pdf2dataset_spark.sources.jpeg import decode_jpeg, encode_jpeg

    px = bytes(range(64))
    jpg = encode_jpeg(8, 8, px)
    i = jpg.find(b"\xff\xda")
    with pytest.raises(ValueError, match="missing JPEG segments"):
        decode_jpeg(jpg[:i] + b"\xff\xd9")  # header-only, no scan
    for cut in (jpg[:-1], jpg[:i] + b"\xff"):
        try:
            decode_jpeg(cut)
        except ValueError:
            pass  # the documented error type
        # (a successful decode is fine when no trailing marker is hit)


def test_scanned_page_decode_is_memoized_per_handle():
    """image + ocr features over a scanned page must share ONE decode
    (the handle's page slot), not re-decode the multi-megapixel
    payload per feature."""
    from unittest import mock

    from pdf2dataset_spark.sources import ccitt
    from pdf2dataset_spark.sources.codecs import PdfCodec

    text, w, h, px = _scan_fixture()
    g4 = ccitt.encode_g4(px, w, h)
    pdf = minipdf.build_pdf(
        [""],
        images=[{"filter": "/CCITTFaxDecode", "width": w, "height": h,
                 "data": g4, "bits": 1,
                 "decode_parms": {"/K": -1, "/Columns": w, "/Rows": h}}],
    )
    codec = PdfCodec()
    hd = codec.open(pdf)
    with mock.patch.object(
        ccitt, "decode_ccitt_gray", wraps=ccitt.decode_ccitt_gray
    ) as spy:
        codec.page_image(hd, 1)
        codec.page_ocr(hd, 1)
        codec.page_image(hd, 1)
        assert spy.call_count == 1, spy.call_count
    assert codec.page_ocr(hd, 1) == text


def _one_image_pdfs() -> dict[str, bytes]:
    """One-page image-only PDFs, one per decoder, each payload made by
    the decoder module's own encoder."""
    from pdf2dataset_spark.sources import ccitt, jbig2, jpeg, jpx

    w, h, px = raster._rasterize("MEMO 1")
    px = bytes(px)
    rows = [
        bytearray(1 if px[y * w + x] < 128 else 0 for x in range(w))
        for y in range(h)
    ]
    xobjs = {
        "jpeg": {"filter": "/DCTDecode",
                 "data": jpeg.encode_jpeg(w, h, px, quality=90)},
        "ccitt": {"filter": "/CCITTFaxDecode",
                  "data": ccitt.encode_g4(px, w, h), "bits": 1,
                  "decode_parms": {"/K": -1, "/Columns": w, "/Rows": h}},
        "jbig2": {"filter": "/JBIG2Decode",
                  "data": jbig2.encode_generic_page(rows), "bits": 1},
        "jpx": {"filter": "/JPXDecode",
                "data": jpx.encode_jpx(w, h, px, 1, levels=2)},
    }
    return {
        kind: minipdf.build_pdf(
            [""], images=[dict(x, width=w, height=h)],
            extra_content=b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h),
        )
        for kind, x in xobjs.items()
    }


def _multi_page_scan() -> tuple[bytes, list[tuple[int, int]]]:
    """A three-page scanned document: page n holds one raw-sample gray
    image whose size differs per page, so a page's entries and
    pixels are told apart by their dimensions."""
    from pdf2dataset_spark.queries.tier_a import _raw_pdf

    dims, imgs = [], []
    for n in range(1, 4):
        w, h, px = raster._rasterize(f"PAGE {n}" + "!" * n)
        dims.append((w, h))
        imgs.append((w, h, bytes(px)))
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>", b""]
    kids = []
    for w, h, px in imgs:
        page, content, image = len(objs) + 1, len(objs) + 2, len(objs) + 3
        kids.append(b"%d 0 R" % page)
        body = b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h)
        objs += [
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
            b"/Resources << /XObject << /Im0 %d 0 R >> >> "
            b"/Contents %d 0 R >>" % (w, h, image, content),
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(body), body),
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length %d >>"
            b"\nstream\n%s\nendstream" % (w, h, len(px), px),
        ]
    objs[1] = b"<< /Type /Pages /Kids [%s] /Count %d >>" % (
        b" ".join(kids), len(kids))
    return _raw_pdf(objs), dims


class TestOneDecodePerPage:
    """Every image feature of a page reads the handle's one-page
    decode memo: the fused pass decodes each page's payload once, the
    handle never keeps an earlier page's pixels, and the public
    ``page_embedded_images`` output is unchanged."""

    FEATURES = ["n_images", "embedded_image", "embedded_image_meta",
                "image", "ocr"]

    @staticmethod
    def _fused_rows(docs: dict[str, bytes], features) -> list[dict]:
        """Run the fused pass's own batch function in this process (a
        spy cannot see into Spark's Python workers)."""
        import pyarrow as pa

        from pdf2dataset_spark.operators.features import extract_features

        class _Manifest:
            def mapInArrow(self, fn, schema):
                self.run = fn
                return self

        m = extract_features(_Manifest(), features, codec=PdfCodec())
        batch = pa.RecordBatch.from_pydict(
            {"path": list(docs), "content": list(docs.values())},
            schema=pa.schema([("path", pa.string()),
                              ("content", pa.binary())]),
        )
        return [r for out in m.run(iter([batch])) for r in out.to_pylist()]

    def test_fused_pass_decodes_each_page_once(self):
        from unittest import mock

        from pdf2dataset_spark.sources import ccitt, jbig2, jpeg, jpx

        spies = {
            "jpeg": (jpeg, "decode_jpeg"),
            "ccitt": (ccitt, "decode_ccitt_gray"),
            "jbig2": (jbig2, "decode_jbig2_gray"),
            "jpx": (jpx, "decode_jpx"),
        }
        for kind, pdf in _one_image_pdfs().items():
            mod, name = spies[kind]
            with mock.patch.object(
                mod, name, wraps=getattr(mod, name)
            ) as spy:
                (row,) = self._fused_rows({kind: pdf}, self.FEATURES)
            assert row["error"] is None, row["error"]
            assert row["n_images"] == 1 and row["ocr"] == "MEMO 1", kind
            assert spy.call_count == 1, (kind, spy.call_count)

    def test_handle_keeps_only_the_current_page(self):
        pdf, dims = _multi_page_scan()
        codec = PdfCodec()
        hd = codec.open(pdf)
        codec.page_image(hd, 1)
        codec.page_ocr(hd, 2)
        slot = hd.page_slot
        assert slot["page"] == 2
        entries = slot["entries"]
        assert [(e["width"], e["height"]) for e in entries] == [dims[1]]
        assert len(entries[0]["pixels"]) == dims[1][0] * dims[1][1]
        assert slot["scan"][:2] == dims[1]

    def test_rows_match_a_fresh_handle_per_page(self):
        from pdf2dataset_spark.operators.features import (
            PageContext, resolve_features,
        )

        pdf, dims = _multi_page_scan()
        rows = self._fused_rows({"scan.pdf": pdf}, self.FEATURES)
        assert [r["page"] for r in rows] == [1, 2, 3]
        codec = PdfCodec()
        for r in rows:
            ctx = PageContext(path="scan.pdf", page=r["page"],
                              codec=codec, handle=codec.open(pdf))
            want = {f.name: f.fn(ctx)
                    for f in resolve_features(self.FEATURES)}
            assert r["error"] is None
            assert {k: r[k] for k in want} == want
        assert [r["ocr"] for r in rows] == ["PAGE 1!", "PAGE 2!!",
                                            "PAGE 3!!!"]

    def test_embedded_images_equal_uncached_page_images(self):
        """Differential: the memoized entries minus ``pixels`` equal a
        plain ``page_images`` call, key sets included — also when the
        image features warmed the memo first."""
        pdfs = list(_one_image_pdfs().values()) + [_multi_page_scan()[0]]
        codec = PdfCodec()
        for pdf in pdfs:
            hd = codec.open(pdf)
            doc = minipdf.PdfDocument(pdf)
            for n, pg in enumerate(doc.pages(), start=1):
                want = doc.page_images(pg)
                assert all("pixels" not in e for e in want)
                cold = codec.page_embedded_images(codec.open(pdf), n)
                codec.page_image(hd, n)
                warm = codec.page_embedded_images(hd, n)
                for got in (cold, warm):
                    assert [sorted(e) for e in got] == \
                        [sorted(e) for e in want]
                    assert got == want


class TestTwelveBitJpeg:
    """12-bit sample precision (T.81 extended sequential, SOF1 with
    16-bit DQT elements — the archival/medical regime): decode level-
    shifts at 2^11 and rescales to the pipeline's 8-bit output."""

    def test_roundtrip_within_quantization(self):
        import numpy as np

        from pdf2dataset_spark.sources.jpeg import (
            decode_jpeg, encode_jpeg12_gray,
        )

        w, h = 60, 44
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        s12 = ((xx * 60 + yy * 40) % 4096).astype(int)
        data = encode_jpeg12_gray(w, h, s12.reshape(-1).tolist(),
                                  quality=90)
        dw, dh, px = decode_jpeg(data)
        got = np.frombuffer(px, np.uint8).reshape(h, w).astype(int)
        exp = np.clip(np.round(s12 * 255.0 / 4095.0), 0, 255)
        assert (dw, dh) == (w, h)
        assert np.abs(got - exp).max() <= 12  # quantization loss only
        assert np.abs(got - exp).mean() < 2

    def test_extreme_dc_swings_exact(self):
        """Full-black/full-white 8x8 checker: maximal DC differences
        must stay inside the standard Annex-K category range (the
        encoder floors the quant table for exactly this bound)."""
        import numpy as np

        from pdf2dataset_spark.sources.jpeg import (
            decode_jpeg, encode_jpeg12_gray,
        )

        w, h = 64, 32
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        chk = np.where(((xx // 8 + yy // 8) % 2).astype(bool), 4095, 0)
        data = encode_jpeg12_gray(w, h, chk.reshape(-1).tolist(),
                                  quality=50)
        got = np.frombuffer(decode_jpeg(data)[2], np.uint8).reshape(
            h, w
        ).astype(int)
        exp = np.clip(np.round(chk * 255.0 / 4095.0), 0, 255)
        assert np.array_equal(got, exp)

    def test_sixteen_bit_dqt_parsed(self):
        from pdf2dataset_spark.sources.jpeg import encode_jpeg12_gray

        data = encode_jpeg12_gray(8, 8, list(range(0, 4096, 64)))
        # DQT segment: marker FFDB, length 2+1+128, Pq=1 in the high
        # nibble of the table spec byte
        at = data.index(b"\xff\xdb")
        assert data[at + 4] >> 4 == 1
        assert int.from_bytes(data[at + 2:at + 4], "big") == 2 + 1 + 128

    def test_other_precisions_still_named(self):
        import pytest as _pytest

        from pdf2dataset_spark.sources.jpeg import (
            decode_jpeg, encode_jpeg12_gray,
        )

        data = bytearray(encode_jpeg12_gray(8, 8, [0] * 64))
        at = data.index(b"\xff\xc1")
        data[at + 4] = 10  # precision 10: not a T.81 DCT precision
        with _pytest.raises(ValueError):
            decode_jpeg(bytes(data))

    def test_out_of_range_samples_rejected(self):
        import pytest as _pytest

        from pdf2dataset_spark.sources.jpeg import encode_jpeg12_gray

        with _pytest.raises(ValueError):
            encode_jpeg12_gray(2, 2, [0, 1, 2, 4096])


class TestLosslessJpeg:
    """Lossless JPEG (SOF3, T.81 Annex H — the DICOM/archival
    export shape): Huffman-coded prediction differences must
    round-trip BITWISE for 8-bit inputs across all seven
    predictors; higher precisions rescale to the 8-bit output."""

    def test_all_predictors_bitwise(self):
        import numpy as np

        from pdf2dataset_spark.sources.jpeg import (
            decode_jpeg, encode_jpeg_lossless,
        )

        rng = np.random.default_rng(3)
        w, h = 50, 37
        g = rng.integers(0, 256, h * w).tolist()
        for pred in range(1, 8):
            cs = encode_jpeg_lossless(w, h, g, predictor=pred)
            dw, dh, px = decode_jpeg(cs)
            assert (dw, dh) == (w, h)
            assert list(px) == g, f"predictor {pred}"

    def test_rgb_and_high_precision(self):
        import numpy as np

        from pdf2dataset_spark.sources.jpeg import (
            decode_jpeg, encode_jpeg_lossless,
        )

        rng = np.random.default_rng(5)
        w, h = 33, 21
        rgb = rng.integers(0, 256, h * w * 3).tolist()
        assert list(decode_jpeg(
            encode_jpeg_lossless(w, h, rgb, ncomp=3, predictor=7)
        )[2]) == rgb
        s12 = rng.integers(0, 4096, h * w)
        cs = encode_jpeg_lossless(w, h, s12.tolist(), precision=12,
                                  predictor=4)
        got = np.frombuffer(decode_jpeg(cs)[2], np.uint8).astype(int)
        exp = np.clip(np.round(s12 * 255.0 / 4095.0), 0, 255)
        assert np.array_equal(got, exp)

    def test_point_transform(self):
        import numpy as np

        from pdf2dataset_spark.sources.jpeg import (
            decode_jpeg, encode_jpeg_lossless,
        )

        rng = np.random.default_rng(7)
        w, h = 20, 14
        s = rng.integers(0, 1 << 14, h * w)
        cs = encode_jpeg_lossless(w, h, s.tolist(), precision=16,
                                  predictor=2, point_transform=2)
        got = np.frombuffer(decode_jpeg(cs)[2], np.uint8).astype(int)
        exp = np.clip(np.round(s * 4 * 255.0 / 65535.0), 0, 255)
        assert np.array_equal(got, exp)

    def test_malformed_rejected(self):
        import pytest as _pytest

        from pdf2dataset_spark.sources.jpeg import (
            decode_jpeg, encode_jpeg_lossless,
        )

        cs = bytearray(encode_jpeg_lossless(8, 8, list(range(64))))
        sos = bytes(cs).index(b"\xff\xda")
        cs[sos + 4 + 1 + 2] = 0  # predictor 0: invalid for lossless
        with _pytest.raises(ValueError):
            decode_jpeg(bytes(cs))
        with _pytest.raises(ValueError):
            encode_jpeg_lossless(2, 2, [0, 1, 2, 256])  # out of range
        with _pytest.raises(ValueError):
            encode_jpeg_lossless(2, 2, [0] * 4, predictor=8)


class TestCompositeRender:
    """Composite page render (A6 fidelity): fills + strokes +
    embedded-image placement + positioned text on one canvas."""

    @staticmethod
    def _composite_pdf():
        from pdf2dataset_spark.sources import minipdf
        from pdf2dataset_spark.sources.jpeg import encode_jpeg

        iw, ih = 32, 24
        ipx = bytes(((x * 8 + y) % 256) for y in range(ih) for x in range(iw))
        return minipdf.build_pdf(
            ["composite page text"],
            images=[{"filter": "/DCTDecode", "width": iw, "height": ih,
                     "data": encode_jpeg(iw, ih, ipx, quality=90)}],
            extra_content=(
                b"q 128 0 0 96 300 500 cm /Im0 Do Q\n"
                b"0.5 g 72 100 200 50 re f\n"
                b"0 G 72 80 m 540 80 l S"
            ),
        )

    def test_content_draw_ops_geometry(self):
        from pdf2dataset_spark.sources import minipdf

        content = (b"q 2 0 0 2 10 20 cm 0.5 g 5 5 20 10 re f Q\n"
                   b"1 0 0 RG 0 0 m 50 50 l S\n"
                   b"q 100 0 0 50 30 40 cm /ImX Do Q")
        d = minipdf.content_draw_ops(content)
        # rect through the 2x scale + translate CTM
        assert d["fills"] == [(20.0, 30.0, 60.0, 50.0, 128)]
        (x0, y0, x1, y1, g) = d["lines"][0]
        assert (x0, y0, x1, y1) == (0.0, 0.0, 50.0, 50.0)
        assert g == round(0.299 * 255)  # red luma
        (name, ctm) = d["images"][0]
        assert name == "/ImX" and ctm == (100.0, 0.0, 0.0, 50.0, 30.0, 40.0)

    def test_composite_page_render_contents(self):
        from pdf2dataset_spark.sources import raster
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(self._composite_pdf())
        w, hh, px = raster.decode_png(codec.page_image(h, 1))
        assert (w, hh) == (612, 792)  # MediaBox canvas
        assert px[660 * 612 + 100] == 128          # rect fill band
        assert px[712 * 612 + 300] == 0            # stroked line
        # the gradient JPEG is stamped (not flat white)
        assert len({px[250 * 612 + x] for x in range(310, 420)}) > 4
        # glyph ink near the text baseline
        assert any(px[r * 612 + c] == 0
                   for r in range(60, 85) for c in range(70, 220))
        # OCR still round-trips the text layer
        assert codec.page_ocr(h, 1) == "composite page text"

    def test_scan_of_itself_phash_matches(self):
        """pHash(composite render) == pHash(scanned page whose
        embedded image IS that render) — the A6 fidelity law."""
        from pdf2dataset_spark.operators.image_hash import phash64
        from pdf2dataset_spark.sources import minipdf, raster
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(self._composite_pdf())
        render = codec.page_image(h, 1)
        w, hh, px = raster.decode_png(render)
        # a scanned page: no text layer, the render as raw samples
        scan_pdf = minipdf.build_pdf(
            [""],
            images=[{"width": w, "height": hh, "data": bytes(px)}],
        )
        h2 = codec.open(scan_pdf)
        scanned = codec.page_image(h2, 1)
        d = bin(phash64(render) ^ phash64(scanned)).count("1")
        assert d <= 2, f"phash hamming {d}"

    def test_pure_text_pages_keep_grid_raster(self):
        from pdf2dataset_spark.sources import minipdf, raster
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        pdf = minipdf.build_pdf(["plain text page"])
        h = codec.open(pdf)
        img = codec.page_image(h, 1)
        assert img == raster.render_text_png("plain text page")


class TestFlexOcr:
    """Multi-scale NCC OCR: integer re-rasterizations of the engine
    raster recover exactly; foreign fonts / fractional rescales fail
    the per-page honesty gate and return '' instead of confabulation."""

    TEXT = "SCANNED PAGE 42\nsecond line"

    def _native(self):
        from pdf2dataset_spark.sources import raster

        w, h, px = raster._rasterize(self.TEXT)
        return w, h, bytes(px)

    def test_native_and_integer_zooms_recover_exactly(self):
        from pdf2dataset_spark.sources import raster

        w, h, px = self._native()
        assert raster.ocr_gray_flex(w, h, px) == self.TEXT
        for s in (2, 3, 4):
            w2, h2, p2 = raster.resize_nearest(w, h, px, w * s, h * s)
            assert raster.ocr_gray_flex(w2, h2, p2) == self.TEXT, s

    def test_accidentally_aligned_zoom_not_misread(self):
        # 2x of 90x20 is 180x40 — still cell-aligned; the page-score
        # gate must keep the exact grid walk from emitting garbage
        from pdf2dataset_spark.sources import raster

        w, h, px = self._native()
        w2, h2, p2 = raster.resize_nearest(w, h, px, 2 * w, 2 * h)
        assert w2 % raster.CELL_W == 0 and h2 % raster.CELL_H == 0
        assert raster.ocr_gray_flex(w2, h2, p2) == self.TEXT

    def test_foreign_font_and_noise_return_empty(self):
        from pdf2dataset_spark.queries.tier_a import _foreign_font_scan
        from pdf2dataset_spark.sources import raster

        w, h, _ = self._native()
        assert raster.ocr_gray_flex(
            w, h, _foreign_font_scan(self.TEXT, w, h)
        ) == ""
        noise = bytes((i * 37 + 11) % 256 for i in range(13 * 7))
        assert raster.ocr_gray_flex(13, 7, noise) == ""

    def test_fractional_rescale_fails_honestly(self):
        from pdf2dataset_spark.sources import raster

        w, h, px = self._native()
        w2, h2 = int(w * 1.5), int(h * 1.5)
        _, _, p2 = raster.resize_nearest(w, h, px, w2, h2)
        assert raster.ocr_gray_flex(w2, h2, p2) == ""

    def test_ncc_binary_properties(self):
        from pdf2dataset_spark.sources.raster import _ncc_binary

        a = [1, 0, 1, 1, 0, 0, 1]
        assert abs(_ncc_binary(a, a) - 1.0) < 1e-12
        assert _ncc_binary(a, [1 - v for v in a]) < 0
        assert _ncc_binary(a, [0] * 7) == 0.0  # zero variance


class TestPytesseractDifferential:
    """Real-OCR differential: wherever tesseract exists, the scan
    route must hand the SAME decoded pixels to pytesseract and read
    a real (foreign-font) scan the grid OCR cannot. Auto-skips when
    pytesseract/PIL are absent (this sandbox)."""

    def test_scan_route_uses_pytesseract_when_available(self):
        import pytest

        pytest.importorskip("pytesseract")
        pytest.importorskip("PIL")
        from pdf2dataset_spark.sources import minipdf, raster
        from pdf2dataset_spark.sources.codecs import PdfCodec

        # a scan the built-in grid OCR cannot read: render the text
        # with PIL's default font (a genuinely foreign glyph set)
        from PIL import Image, ImageDraw

        img = Image.new("L", (400, 60), 255)
        ImageDraw.Draw(img).text((10, 10), "HELLO WORLD 123", fill=0)
        w, h = img.size
        px = img.tobytes()
        pdf = minipdf.build_pdf(
            [""], images=[{"width": w, "height": h, "data": px}]
        )
        codec = PdfCodec()
        handle = codec.open(pdf)
        out = codec.page_ocr(handle, 1)
        assert "HELLO" in out.upper()
        # and the grid OCR alone would have returned '' honestly
        assert raster.ocr_gray_flex(w, h, px) == ""


class TestCompositeReviewFixes:
    """Round-6 review regressions: the composite gate, MediaBox
    origins, and the canvas budget."""

    def test_form_xobject_do_keeps_grid_raster(self):
        # a text page invoking a /Form XObject (letterhead shape)
        # must NOT flip to the composite canvas
        from pdf2dataset_spark.sources import minipdf, raster
        from pdf2dataset_spark.sources.codecs import PdfCodec

        form = b"0 0 m 10 10 l S"
        pdf = minipdf._Raw if hasattr(minipdf, "_Raw") else None
        body = (b"BT /F1 12 Tf 72 720 Td (text with form) Tj ET\n"
                b"q /Fm0 Do Q")
        doc = b"%PDF-1.5\n"
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
            b"<< /XObject << /Fm0 5 0 R >> >> >>",
            b"<< /Length " + str(len(body)).encode() + b" >>\nstream\n"
            + body + b"\nendstream",
            b"<< /Type /XObject /Subtype /Form /BBox [0 0 10 10] /Length "
            + str(len(form)).encode() + b" >>\nstream\n" + form
            + b"\nendstream",
        ]
        buf = bytearray(doc)
        for i, o in enumerate(objs, start=1):
            buf += f"{i} 0 obj\n".encode() + o + b"\nendobj\n"
        buf += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
        codec = PdfCodec()
        h = codec.open(bytes(buf))
        assert codec.page_image(h, 1) == raster.render_text_png(
            codec.page_text(h, 1)
        )

    def test_nonzero_mediabox_origin_aligns_layers(self):
        from pdf2dataset_spark.sources import raster

        # simulate the codec's translation: a fill at device (172,172)
        # on a MediaBox [100 100 300 300] page lands at canvas (72, h-72)
        w, h, px = raster.compose_page(
            200, 200,
            fills=[(72, 72, 92, 92, 0)],
            glyph_runs=[(72, 99, "A")],
        )
        assert (w, h) == (200, 200)
        assert px[(200 - 80) * 200 + 80] == 0  # fill where text space says

    def test_canvas_budget_clamps_hostile_mediabox(self):
        import time

        from pdf2dataset_spark.sources import raster

        t0 = time.monotonic()
        w, h, px = raster.compose_page(1_000_000, 1_000_000,
                                       fills=[(0, 0, 10, 10, 0)])
        assert w * h <= raster._MAX_CANVAS_PIXELS * 1.01
        assert time.monotonic() - t0 < 5.0

    def test_large_foreign_scan_rejected_fast(self):
        import time

        from pdf2dataset_spark.sources import raster

        # 300-dpi letter-size foreign scan, cell-aligned by accident:
        # must return '' in O(exact-walk), not grind NCC at 7 scales
        w, h = 2550, 3300
        px = bytes((i * 31 + 7) % 256 for i in range(w * h))
        t0 = time.monotonic()
        assert raster.ocr_gray_flex(w, h, px) == ""
        assert time.monotonic() - t0 < 30.0


class TestPngDecodeBounds:
    """decode_png hostile-header posture (round 6): IHDR dims are
    untrusted u32s and IDAT can be a zlib bomb — both bounded."""

    @staticmethod
    def _chunk(tag, payload):
        import struct
        import zlib

        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload)))

    def test_hostile_ihdr_dims_rejected_fast(self):
        import struct
        import time

        from pdf2dataset_spark.sources import raster

        ihdr = struct.pack(">IIBBBBB", 0xFFFFFFFF, 0xFFFFFFFF, 8, 0, 0, 0, 0)
        bad = (b"\x89PNG\r\n\x1a\n" + self._chunk(b"IHDR", ihdr)
               + self._chunk(b"IEND", b""))
        t0 = time.monotonic()
        import pytest

        with pytest.raises(ValueError, match="bound"):
            raster.decode_png(bad)
        assert time.monotonic() - t0 < 1.0

    def test_zlib_bomb_inflation_capped(self):
        import struct
        import time
        import zlib

        from pdf2dataset_spark.sources import raster

        ihdr = struct.pack(">IIBBBBB", 100, 100, 8, 0, 0, 0, 0)
        bomb = zlib.compress(b"\x00" * 50_000_000)
        png = (b"\x89PNG\r\n\x1a\n" + self._chunk(b"IHDR", ihdr)
               + self._chunk(b"IDAT", bomb) + self._chunk(b"IEND", b""))
        t0 = time.monotonic()
        w, h, _ = raster.decode_png(png)
        assert (w, h) == (100, 100)
        assert time.monotonic() - t0 < 3.0

    def test_truncated_idat_raises_cleanly(self):
        import struct
        import zlib

        import pytest

        from pdf2dataset_spark.sources import raster

        ihdr = struct.pack(">IIBBBBB", 100, 100, 8, 0, 0, 0, 0)
        png = (b"\x89PNG\r\n\x1a\n" + self._chunk(b"IHDR", ihdr)
               + self._chunk(b"IDAT", zlib.compress(b"\x00" * 50))
               + self._chunk(b"IEND", b""))
        with pytest.raises(ValueError, match="truncated"):
            raster.decode_png(png)

    def test_round_trip_unaffected(self):
        from pdf2dataset_spark.sources import raster

        png = raster.render_text_png("bounds intact")
        assert raster.ocr_png(png) == "bounds intact"


class TestTwelveBitCmykJpeg:
    """12-bit CMYK (round 6 — closes the last declared JPEG decline):
    SOF1 + 16-bit DQT + 4 interleaved components, Adobe-inverted
    storage, decoded at native precision and rescaled to 8-bit RGB."""

    def test_roundtrip_within_quantization(self):
        import numpy as np

        from pdf2dataset_spark.sources.jpeg import (
            decode_jpeg, encode_jpeg12_cmyk,
        )

        w, h = 24, 16
        base = np.linspace(0, 4095, w * h).reshape(h, w)
        cmyk = np.stack(
            [base, 4095 - base, (base * 0.5) % 4096,
             np.full((h, w), 1000.0)],
            axis=-1,
        )
        enc = encode_jpeg12_cmyk(
            w, h, np.round(cmyk).astype(int).ravel().tolist(), quality=95
        )
        dw, dh, px = decode_jpeg(enc)
        assert (dw, dh) == (w, h) and len(px) == w * h * 3
        got = np.frombuffer(px, np.uint8).reshape(h, w, 3).astype(float)
        inv = 4095.0 - cmyk
        ref = np.clip(
            np.round(
                np.stack(
                    [inv[..., i] * inv[..., 3] for i in range(3)], -1
                ) / 4095.0 * (255.0 / 4095.0)
            ),
            0, 255,
        )
        assert np.abs(got - ref).max() <= 4

    def test_pdf_extraction_path(self):
        import numpy as np

        from pdf2dataset_spark.sources import minipdf
        from pdf2dataset_spark.sources.jpeg import encode_jpeg12_cmyk

        w, h = 16, 8
        cmyk = [(i * 97) % 4096 for i in range(w * h * 4)]
        pdf = minipdf.build_pdf(
            [""],
            images=[{"filter": "/DCTDecode", "width": w, "height": h,
                     "data": encode_jpeg12_cmyk(w, h, cmyk),
                     "colorspace": "/DeviceCMYK", "bits": 12}],
        )
        (entry,) = minipdf.extract_page_images(pdf)[0]
        assert entry["format"] == "jpeg"
        assert entry["decodable"] is True  # was a named decline


class TestAxialShading:
    """sh paints of /ShadingType 2 (axial) rasterize as budgeted
    masked gray patches inside the active clip — since round 8 under
    ANY invertible affine CTM and axis direction (device pixels map
    back through the CTM inverse; the round-7 strips path declined
    rotated axes). Degenerate geometry declines by name (unpainted,
    deterministic)."""

    @staticmethod
    def _pdf(content, shading):
        from pdf2dataset_spark.queries.tier_a import _content_pdf

        return _content_pdf(
            content,
            page_extra=(
                b"/MediaBox [0 0 612 792] /Resources << /Shading << /Sh0 "
                + shading + b" >> >>"
            ),
        )

    TEXT = b"BT /F1 12 Tf 72 700 Td (gradient page) Tj ET\n"

    def _pixels(self, pdf):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        assert out is not None
        w, hh, px = out

        def at(x, y):
            return px[(hh - 1 - y) * w + x]

        return at

    def test_vertical_axial_gradient_monotonic_in_clip(self):
        pdf = self._pdf(
            self.TEXT + b"q 100 100 200 100 re W n /Sh0 sh Q",
            b"<< /ShadingType 2 /Coords [0 100 0 200] /Function "
            b"<< /FunctionType 2 /Domain [0 1] /C0 [1.0] /C1 [0.0] /N 1 >> "
            b"/Extend [true true] >>",
        )
        at = self._pixels(pdf)
        vals = [at(200, y) for y in range(101, 200, 10)]
        assert all(a > b for a, b in zip(vals, vals[1:])), vals
        assert at(200, 300) == 255 and at(50, 150) == 255  # clip holds

    def test_horizontal_axis_and_extend_off(self):
        # axis spans only x in [150, 250]; Extend [false false] leaves
        # the clip region OUTSIDE the axis span unpainted
        pdf = self._pdf(
            self.TEXT + b"q 100 100 300 50 re W n /Sh0 sh Q",
            b"<< /ShadingType 2 /Coords [150 0 250 0] /Function "
            b"<< /FunctionType 2 /C0 [0.0] /C1 [1.0] /N 1 >> >>",
        )
        at = self._pixels(pdf)
        assert at(120, 125) == 255  # before axis start, no extend
        assert at(380, 125) == 255  # past axis end
        assert at(160, 125) < at(240, 125)  # dark -> light along axis

    def test_stitching_function(self):
        # type 3: black->white over [0,0.5], then constant white
        pdf = self._pdf(
            self.TEXT + b"q 100 100 100 100 re W n /Sh0 sh Q",
            b"<< /ShadingType 2 /Coords [0 100 0 200] /Function "
            b"<< /FunctionType 3 /Domain [0 1] /Bounds [0.5] "
            b"/Encode [0 1 0 1] /Functions ["
            b"<< /FunctionType 2 /C0 [0.0] /C1 [1.0] /N 1 >> "
            b"<< /FunctionType 2 /C0 [1.0] /C1 [1.0] /N 1 >>] >> "
            b"/Extend [true true] >>",
        )
        at = self._pixels(pdf)
        assert at(150, 105) < 40          # bottom: near black
        assert at(150, 190) == 255        # top half: constant white
        assert at(150, 145) > 200         # just under the bound

    def test_rotated_axis_paints_perpendicular_level_lines(self):
        # round-8: a diagonal axis (the round-7 strips path declined
        # it by name) paints per-pixel — s = projection onto the axis,
        # so the ANTI-diagonal is a level line (equal gray), strictly
        # darker to lighter along the axis
        pdf = self._pdf(
            self.TEXT + b"q 100 100 100 100 re W n /Sh0 sh Q",
            b"<< /ShadingType 2 /Coords [100 100 200 200] /Function "
            b"<< /FunctionType 2 /C0 [0.0] /C1 [1.0] /N 1 >> "
            b"/Extend [true true] >>",
        )
        at = self._pixels(pdf)
        assert at(110, 110) < at(150, 150) < at(190, 190)
        # level line perpendicular to the axis in user space
        assert at(120, 180) == at(180, 120)
        assert at(130, 170) == at(170, 130)
        assert at(100 + 50, 300) == 255  # clip holds

    def test_skewed_ctm_maps_levels_through_inverse(self):
        # axial under a skew CTM (1 0 1 1): level lines follow USER
        # space — device pixels map back through the CTM inverse, so
        # user point (u, v) paints at device (u + v, v). The vertical
        # user axis [0 100 0 200] keeps s = (v - 100)/100: device
        # pixels at equal y are equal gray regardless of x.
        pdf = self._pdf(
            self.TEXT + b"q 1 0 1 1 0 0 cm "
            b"100 100 100 100 re W n /Sh0 sh Q",
            b"<< /ShadingType 2 /Coords [0 100 0 200] /Function "
            b"<< /FunctionType 2 /C0 [0.0] /C1 [1.0] /N 1 >> "
            b"/Extend [true true] >>",
        )
        at = self._pixels(pdf)
        # clip rect (100..200)^2 under the skew covers device x=y+100..y+200
        y_lo, y_hi = 120, 180
        assert at(y_lo + 120, y_lo) == at(y_lo + 160, y_lo)  # same v
        assert at(y_lo + 140, y_lo) < at(y_hi + 140, y_hi)   # v grows

    def test_degenerate_axial_declines(self):
        from pdf2dataset_spark.sources.codecs import PdfCodec
        from pdf2dataset_spark.sources import minipdf

        pdf = self._pdf(
            self.TEXT + b"q 100 100 100 100 re W n /Sh0 sh Q",
            b"<< /ShadingType 2 /Coords [50 50 50 50] /Function "
            b"<< /FunctionType 2 /C0 [0.0] /C1 [1.0] /N 1 >> >>",
        )
        codec = PdfCodec()
        h = codec.open(pdf)
        doc = h.doc
        pg = doc.pages()[0]
        d = minipdf.content_draw_ops(doc.page_content(pg))
        (name, ctm, clip), = d["shadings"]
        shs = doc.resolve(doc.resolve(pg.get("/Resources")).get("/Shading"))
        sh = doc.resolve(shs.get(name))
        # zero-length axis declines
        assert codec._axial_patch(doc, sh, ctm, clip, (0, 0, 612, 792)) \
            is None
        # singular CTM declines
        sh2 = dict(sh)
        sh2["/Coords"] = [0, 100, 0, 200]
        assert codec._axial_patch(
            doc, sh2, (1.0, 1.0, 2.0, 2.0, 0.0, 0.0), clip,
            (0, 0, 612, 792),
        ) is None

    def test_rgb_function_via_luma(self):
        pdf = self._pdf(
            self.TEXT + b"q 100 100 50 100 re W n /Sh0 sh Q",
            b"<< /ShadingType 2 /Coords [0 100 0 200] /Function "
            b"<< /FunctionType 2 /C0 [1.0 0.0 0.0] /C1 [0.0 0.0 1.0] "
            b"/N 1 >> /Extend [true true] >>",
        )
        at = self._pixels(pdf)
        # red (BT.601 ~76) at the bottom, blue (~29) at the top
        assert abs(at(120, 105) - 76) <= 8
        assert abs(at(120, 195) - 29) <= 8

    def test_sampled_function_gradient(self):
        # Type 0 (8-bit, 5 samples, V shape white->black->white)
        def raw(objs):
            out = bytearray(b"%PDF-1.5\n")
            for i, b in enumerate(objs, 1):
                out += b"%d 0 obj\n" % i + b + b"\nendobj\n"
            out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
            return bytes(out)

        from pdf2dataset_spark.sources.codecs import PdfCodec

        samples = bytes([255, 128, 0, 128, 255])
        content = (b"BT /F1 12 Tf 72 700 Td (sampled fn) Tj ET\n"
                   b"q 100 100 100 100 re W n /Sh0 sh Q")
        pdf = raw([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /Shading << /Sh0 "
            b"<< /ShadingType 2 /Coords [0 100 0 200] /Function 5 0 R "
            b"/Extend [true true] >> >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            b"<< /FunctionType 0 /Domain [0 1] /Range [0 1] /Size [5] "
            b"/BitsPerSample 8 /Length 5 >>\nstream\n" + samples
            + b"\nendstream",
        ])
        codec = PdfCodec()
        h = codec.open(pdf)
        w, hh, px = codec._composite_pixels(h, 1)

        def at(x, y):
            return px[(hh - 1 - y) * w + x]

        assert at(150, 102) > 235   # bottom: near white
        assert abs(at(150, 125) - 128) <= 6
        assert at(150, 150) < 12    # middle: near black
        assert at(150, 198) > 235   # top: near white again

    def test_sampled_function_4bit_and_short_stream_decline(self):
        from pdf2dataset_spark.sources.codecs import PdfCodec
        from pdf2dataset_spark.sources import minipdf

        class _FakeDoc:
            def resolve(self, v):
                return v

            def stream_bytes(self, obj):
                return obj.raw

        doc = _FakeDoc()
        fn = minipdf.StreamObj(
            {"/FunctionType": 0, "/Domain": [0, 1], "/Range": [0, 1],
             "/Size": [4], "/BitsPerSample": 4},
            bytes([0x0F, 0x80]),  # samples 0,15,8,0 (4-bit packed)
        )
        assert PdfCodec._eval_pdf_function(doc, fn, 0.0) == [0.0]
        assert PdfCodec._eval_pdf_function(doc, fn, 1 / 3) == [1.0]
        import pytest as _pytest
        short = minipdf.StreamObj(
            {"/FunctionType": 0, "/Domain": [0, 1], "/Range": [0, 1],
             "/Size": [9], "/BitsPerSample": 8},
            b"\x00\x01",
        )
        with _pytest.raises(ValueError):
            PdfCodec._eval_pdf_function(doc, short, 0.9)


class TestRadialShading:
    """Round-7: /ShadingType 3 rasterizes as a budgeted gray patch on
    the BOTTOM z-layer (fills/lines/images/text paint over it);
    non-similarity CTMs decline by name."""

    CONTENT = (b"BT /F1 12 Tf 72 700 Td (radial page) Tj ET\n"
               b"q 120 320 160 160 re W n /Sh0 sh Q\n"
               b"0.5 g 190 390 20 20 re f")
    SHADING = (b"<< /ShadingType 3 /Coords [200 400 0 200 400 80] "
               b"/Function << /FunctionType 2 /C0 [0.0] /C1 [1.0] /N 1 >> "
               b"/Extend [false true] >>")

    def _at(self, pdf):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(pdf)
        w, hh, px = codec._composite_pixels(h, 1)

        def at(x, y):
            return px[(hh - 1 - y) * w + x]

        return at

    def _pdf(self, shading=None):
        from pdf2dataset_spark.queries.tier_a import _content_pdf

        return _content_pdf(
            self.CONTENT,
            page_extra=(
                b"/MediaBox [0 0 612 792] /Resources << /Shading << /Sh0 "
                + (shading or self.SHADING) + b" >> >>"
            ),
        )

    def test_radial_ramp_and_z_order(self):
        at = self._at(self._pdf())
        vals = [at(200 + r, 400) for r in (12, 25, 40, 55, 70)]
        assert all(a < b for a, b in zip(vals, vals[1:])), vals
        # the rect fill paints OVER the gradient (bottom z-layer)
        assert at(200, 400) == 128
        # clip holds; beyond r=80 Extend[.. true] paints C1 white
        assert at(100, 400) == 255
        assert at(130, 330) == 255

    def test_extend_false_leaves_unpainted(self):
        sh = (b"<< /ShadingType 3 /Coords [200 400 40 200 400 80] "
              b"/Function << /FunctionType 2 /C0 [0.0] /C1 [1.0] /N 1 >> "
              b"/Extend [false false] >>")
        at = self._at(self._pdf(sh))
        assert at(200, 400) == 128          # fill on top at center
        assert at(200, 415) == 255          # inside r0, no extend0
        assert at(260, 400) < 200           # annulus painted
        assert at(130, 330) == 255          # beyond r1, no extend1

    def test_overlapping_radials_compose_in_stream_order(self):
        # round-8 advice fix: a later shading's UNPAINTED pixels are
        # transparent (skip-stamped), not opaque white — they must not
        # erase an earlier shading's paint underneath
        from pdf2dataset_spark.queries.tier_a import _content_pdf

        sh_a = (b"<< /ShadingType 3 /Coords [200 400 0 200 400 60] "
                b"/Function << /FunctionType 2 /C0 [0.0] /C1 [0.66] /N 1 >> "
                b"/Extend [false false] >>")
        sh_b = (b"<< /ShadingType 3 /Coords [240 400 40 240 400 80] "
                b"/Function << /FunctionType 2 /C0 [0.0] /C1 [1.0] /N 1 >> "
                b"/Extend [false false] >>")
        pdf = _content_pdf(
            b"q /Sh0 sh Q q /Sh1 sh Q",
            page_extra=(
                b"/MediaBox [0 0 612 792] /Resources << /Shading << "
                b"/Sh0 " + sh_a + b" /Sh1 " + sh_b + b" >> >>"
            ),
        )
        at = self._at(pdf)
        # (220,400): inside A's painted disc AND inside B's unpainted
        # inner hole -> A's gray must survive B's stamp
        assert at(220, 400) < 200
        # B's annulus itself painted (distance 70 -> mid-ramp gray)
        assert 0 < at(310, 400) < 255
        # far outside both: canvas white
        assert at(500, 700) == 255

    def test_non_similarity_ctm_declines(self):
        from pdf2dataset_spark.sources.codecs import PdfCodec
        from pdf2dataset_spark.sources import minipdf

        pdf = self._pdf()
        codec = PdfCodec()
        h = codec.open(pdf)
        doc = h.doc
        pg = doc.pages()[0]
        shs = doc.resolve(doc.resolve(pg.get("/Resources")).get("/Shading"))
        sh = doc.resolve(shs.get("/Sh0"))
        # skew CTM: circles become ellipses -> decline
        assert codec._radial_patch(
            doc, sh, (1, 0.5, 0, 1, 0, 0), None, (0, 0, 612, 792)
        ) is None
        # uniform 2x rotation CTM: still a similarity -> paints
        assert codec._radial_patch(
            doc, sh, (0, 2, -2, 0, 300, 300), None, (0, 0, 612, 792)
        ) is not None


class TestMeshShading:
    """Round-8: /ShadingType 4 (free-form) and 5 (lattice) Gouraud
    triangle meshes rasterize as masked patches. Expected pixel
    values are HAND-DERIVED from the barycentric formula (an
    independent formulation — the rasterizer is never used to
    generate its own expectations)."""

    import struct as _struct

    @staticmethod
    def _pdf(shading_obj: bytes, content: bytes | None = None):
        from pdf2dataset_spark.queries.tier_a import _raw_pdf

        content = content or (
            b"BT /F1 12 Tf 72 700 Td (mesh page) Tj ET\n/Sh0 sh"
        )
        return _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /Shading << "
            b"/Sh0 5 0 R >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            shading_obj,
        ])

    @classmethod
    def _type4_obj(cls, records: list[tuple], extra: bytes = b"") -> bytes:
        # records: (flag, x_int16, y_int16, comp_byte); byte-aligned
        # 8/16/8 layout; /Decode maps coords 1:1, comp byte -> [0,1]
        data = b"".join(
            cls._struct.pack(">BHHB", f, x, y, c) for f, x, y, c in records
        )
        return (b"<< /ShadingType 4 /BitsPerFlag 8 /BitsPerCoordinate 16 "
                b"/BitsPerComponent 8 "
                b"/Decode [0 65535 0 65535 0 1.0] " + extra
                + b"/Length " + str(len(data)).encode()
                + b" >>\nstream\n" + data + b"\nendstream")

    def _at(self, pdf):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        assert out is not None
        w, hh, px = out

        def at(x, y):
            return px[(hh - 1 - y) * w + x]

        return at

    def test_type4_single_triangle_gouraud(self):
        # A(100,100,g0) B(300,100,g255) C(100,300,g0): gray is affine,
        # g(x,y) = 255*(x-100)/200. Pixel (150,150) has center
        # (150.5, 150.5) -> 255*50.5/200 = 64.3875 -> 64 (hand-derived)
        pdf = self._pdf(self._type4_obj([
            (0, 100, 100, 0), (0, 300, 100, 255), (0, 100, 300, 0),
        ]))
        at = self._at(pdf)
        assert at(150, 150) == 64
        assert at(110, 110) == round(255 * 10.5 / 200)  # 13
        # outside the triangle: transparent -> canvas white
        assert at(350, 150) == 255
        assert at(290, 290) == 255

    def test_type4_strip_flags_share_edges(self):
        # flag 1 after ABC appends D: triangle (B, C, D). At pixel
        # (280,280), center (280.5,280.5): lam_B=(300-280.5)/200,
        # lam_C=(300-280.5)/200, lam_D=rest -> g = 255*(1-lam_C)
        # = 255*0.9025 = 230.1375 -> 230 (hand-derived)
        pdf = self._pdf(self._type4_obj([
            (0, 100, 100, 0), (0, 300, 100, 255), (0, 100, 300, 0),
            (1, 300, 300, 255),
        ]))
        at = self._at(pdf)
        assert at(280, 280) == 230
        assert at(150, 150) == 64  # first triangle intact

    def test_type5_lattice_rows(self):
        # 2x2 lattice, gray affine in x only: g = 255*(x-100)/100;
        # both triangles agree. (150,150) center -> 255*0.505 ->
        # 128.775 -> 129; (120,180) -> 255*0.205 -> 52.275 -> 52
        data = b"".join(
            self._struct.pack(">HHB", x, y, c)
            for x, y, c in [
                (100, 100, 0), (200, 100, 255),
                (100, 200, 0), (200, 200, 255),
            ]
        )
        obj = (b"<< /ShadingType 5 /BitsPerCoordinate 16 "
               b"/BitsPerComponent 8 /VerticesPerRow 2 "
               b"/Decode [0 65535 0 65535 0 1.0] "
               b"/Length " + str(len(data)).encode()
               + b" >>\nstream\n" + data + b"\nendstream")
        at = self._at(self._pdf(obj))
        assert at(150, 150) == 129
        assert at(120, 180) == 52
        assert at(250, 150) == 255  # outside lattice

    def test_function_mapped_vertices(self):
        # /Function 2 C0 [1.0] C1 [0.0] N 1 over t: vertex gray =
        # 255*(1-t); linear, so Gouraud equals the parametric ramp.
        # Triangle with t: A=0 (white), B=1 (black), C=0 -> at
        # (150,150): t=0.2525, g=255*0.7475=190.6 -> 191
        pdf = self._pdf(self._type4_obj(
            [(0, 100, 100, 0), (0, 300, 100, 255), (0, 100, 300, 0)],
            extra=(b"/Function << /FunctionType 2 /C0 [1.0] /C1 [0.0] "
                   b"/N 1 >> "),
        ))
        at = self._at(pdf)
        assert at(150, 150) == 191

    def test_truncated_stream_keeps_complete_triangles(self):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        full = b"".join(
            self._struct.pack(">BHHB", *r) for r in [
                (0, 100, 100, 0), (0, 300, 100, 255), (0, 100, 300, 0),
                (1, 300, 300, 255),
            ]
        )
        data = full[:-3]  # cut into the 4th record
        obj = (b"<< /ShadingType 4 /BitsPerFlag 8 /BitsPerCoordinate 16 "
               b"/BitsPerComponent 8 /Decode [0 65535 0 65535 0 1.0] "
               b"/Length " + str(len(data)).encode()
               + b" >>\nstream\n" + data + b"\nendstream")
        at = self._at(self._pdf(obj))
        assert at(150, 150) == 64   # complete first triangle painted
        assert at(280, 280) == 255  # incomplete second dropped

    def test_declines_by_name(self):
        from pdf2dataset_spark.sources.codecs import PdfCodec
        from pdf2dataset_spark.sources import minipdf

        def patch_of(obj):
            pdf = self._pdf(obj)
            codec = PdfCodec()
            h = codec.open(pdf)
            doc = h.doc
            pg = doc.pages()[0]
            shs = doc.resolve(
                doc.resolve(pg.get("/Resources")).get("/Shading"))
            sh = doc.resolve(shs.get("/Sh0"))
            return codec._mesh_patch(
                doc, sh, (1, 0, 0, 1, 0, 0), None, (0, 0, 612, 792))

        tri = [(0, 100, 100, 0), (0, 300, 100, 255), (0, 100, 300, 0)]
        # non-byte-aligned records (2-bit flags): declined
        data = b"\x00" * 18
        assert patch_of(
            b"<< /ShadingType 4 /BitsPerFlag 2 /BitsPerCoordinate 16 "
            b"/BitsPerComponent 8 /Decode [0 65535 0 65535 0 1.0] "
            b"/Length 18 >>\nstream\n" + data + b"\nendstream") is None
        # malformed flag sequence (first flag = 1): declined
        bad = self._type4_obj([(1, 100, 100, 0)] + tri)
        assert patch_of(bad) is None
        # over-budget vertex count: declined, not rasterized
        from pdf2dataset_spark.sources.codecs import PdfCodec as PC
        n = PC._MAX_MESH_VERTICES + 3
        big = self._type4_obj(
            [(0, 1, 1, 0), (0, 2, 1, 0), (0, 1, 2, 0)] * (n // 3))
        assert patch_of(big) is None
        # lattice with VerticesPerRow < 2: declined
        assert patch_of(
            b"<< /ShadingType 5 /BitsPerCoordinate 16 "
            b"/BitsPerComponent 8 /VerticesPerRow 1 "
            b"/Decode [0 65535 0 65535 0 1.0] "
            b"/Length 5 >>\nstream\n" + b"\x00" * 5 + b"\nendstream"
        ) is None


class TestFunctionShading:
    """Round-8: /ShadingType 1 (function-based) with a 2-in sampled
    function rasterizes vectorized; everything non-sampled declines
    by name. Expected grays hand-derived from the bilinear sample
    interpolation."""

    def _pdf(self, fn_obj, shading_extra=b""):
        from pdf2dataset_spark.queries.tier_a import _raw_pdf

        content = b"BT /F1 12 Tf 72 700 Td (fn page) Tj ET\n/Sh0 sh"
        return _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /Shading << "
            b"/Sh0 << /ShadingType 1 /Domain [0 1 0 1] "
            b"/Matrix [200 0 0 100 100 300] " + shading_extra
            + b"/Function 5 0 R >> >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            fn_obj,
        ])

    @staticmethod
    def _at(pdf):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        assert out is not None
        w, hh, px = out
        return lambda x, y: px[(hh - 1 - y) * w + x]

    def test_sampled_2d_bilinear_ramp(self):
        # 2x2 samples, x-ramp 0 -> 255 (first input varies fastest):
        # gray(x) = (x - 100)/200 inside the Matrix-mapped rect
        data = bytes([0, 255, 0, 255])
        fn = (b"<< /FunctionType 0 /Domain [0 1 0 1] /Size [2 2] "
              b"/BitsPerSample 8 /Range [0 1] /Length 4 >>\nstream\n"
              + data + b"\nendstream")
        at = self._at(self._pdf(fn))
        # (150,350) center (150.5,350.5): 0.2525*255 = 64.39 -> 64
        assert at(150, 350) == 64
        assert at(290, 350) == round((190.5 / 200) * 255)  # 243
        assert at(50, 350) == 255   # outside /Domain: transparent
        assert at(150, 500) == 255

    def test_y_axis_and_rgb_outputs(self):
        # 2x2 RGB samples: red at v=0 row, blue at v=1 row ->
        # BT.601 ramp 76 -> 29 along y
        data = bytes([255, 0, 0, 255, 0, 0, 0, 0, 255, 0, 0, 255])
        fn = (b"<< /FunctionType 0 /Domain [0 1 0 1] /Size [2 2] "
              b"/BitsPerSample 8 /Range [0 1 0 1 0 1] /Length 12 "
              b">>\nstream\n" + data + b"\nendstream")
        at = self._at(self._pdf(fn))
        assert abs(at(200, 310) - 71) <= 2   # near red row: ~76 - 10%
        assert abs(at(200, 390) - 34) <= 2   # near blue row
        assert at(200, 310) > at(200, 390)   # monotone red->blue

    def test_calculator_routes_to_lattice_fallback(self):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        # round-9: a type-4 2-in function no longer declines — it
        # evaluates on the budgeted lattice (gray = x here)
        prog = b"{ pop }"
        fn = (b"<< /FunctionType 4 /Domain [0 1 0 1] /Range [0 1] "
              b"/Length " + str(len(prog)).encode() + b" >>\nstream\n"
              + prog + b"\nendstream")
        pdf = self._pdf(fn)
        codec = PdfCodec()
        h = codec.open(pdf)
        doc = h.doc
        pg = doc.pages()[0]
        shs = doc.resolve(doc.resolve(pg.get("/Resources")).get("/Shading"))
        sh = doc.resolve(shs.get("/Sh0"))
        patch = codec._function_patch(
            doc, sh, (1, 0, 0, 1, 0, 0), None, (0, 0, 612, 792))
        assert patch is not None
        # a malformed function type still declines
        bad = (b"<< /FunctionType 9 /Domain [0 1 0 1] /Range [0 1] "
               b"/Length 2 >>\nstream\n{}\nendstream")
        pdf2 = self._pdf(bad)
        h2 = codec.open(pdf2)
        doc2 = h2.doc
        pg2 = doc2.pages()[0]
        shs2 = doc2.resolve(
            doc2.resolve(pg2.get("/Resources")).get("/Shading"))
        sh2 = doc2.resolve(shs2.get("/Sh0"))
        assert codec._function_patch(
            doc2, sh2, (1, 0, 0, 1, 0, 0), None,
            (0, 0, 612, 792)) is None


class TestCoonsTensorShading:
    """Round-8: /ShadingType 6 (Coons) and 7 (tensor) patches
    tessellate the Coons surface into Gouraud triangles. Expected
    grays are HAND-DERIVED from the corner-bilinear formula; the
    tessellation's piecewise-linear error is under 1 gray level at
    the 12x12 grid, so assertions allow +/-1."""

    import struct as _struct

    # flat patch: counterclockwise boundary of the square
    # (96,96)-(336,336), control points at exact thirds -> straight
    # edges; corners c1..c4 = 0, 255, 128, 64 at p1, p4, p7, p10
    FLAT_PTS = [
        (96, 96), (176, 96), (256, 96), (336, 96),
        (336, 176), (336, 256), (336, 336),
        (256, 336), (176, 336), (96, 336),
        (96, 256), (96, 176),
    ]
    COLS = [0, 255, 128, 64]

    @classmethod
    def _obj(cls, stype, pts, cols, flag=0, extra=b""):
        data = bytes([flag]) + b"".join(
            cls._struct.pack(">HH", x, y) for x, y in pts
        ) + bytes(cols)
        return (b"<< /ShadingType " + str(stype).encode()
                + b" /BitsPerFlag 8 /BitsPerCoordinate 16 "
                b"/BitsPerComponent 8 "
                b"/Decode [0 65535 0 65535 0 1.0] " + extra
                + b"/Length " + str(len(data)).encode()
                + b" >>\nstream\n" + data + b"\nendstream")

    def _at(self, obj):
        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        content = b"BT /F1 12 Tf 72 700 Td (coons page) Tj ET\n/Sh0 sh"
        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /Shading << "
            b"/Sh0 5 0 R >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            obj,
        ])
        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        assert out is not None
        w, hh, px = out
        return lambda x, y: px[(hh - 1 - y) * w + x]

    def test_flat_coons_corner_bilinear(self):
        at = self._at(self._obj(6, self.FLAT_PTS, self.COLS))
        # (150,150) center (150.5,150.5): u=v=54.5/240 -> hand-derived
        # g = u(1-v)*255 + uv*128 + (1-u)v*64 = 62.59 -> 63
        assert abs(at(150, 150) - 63) <= 1
        # near-c1 corner: u=v=4.5/240 -> 5.91 -> 6
        assert abs(at(100, 100) - 6) <= 1
        # near-c2 corner (330,100): u=234.5/240, v=4.5/240:
        # 0.958763*255 + 0.018320*128 + 0.000430*64 = 246.86 -> 247
        assert abs(at(330, 100) - 247) <= 1
        assert at(90, 150) == 255   # outside the patch
        assert at(150, 340) == 255

    def test_curved_bottom_edge_bulges(self):
        pts = list(self.FLAT_PTS)
        pts[1] = (176, 36)  # bottom-edge controls dip below
        pts[2] = (256, 36)
        at = self._at(self._obj(6, pts, self.COLS))
        # cubic midpoint: y = (96 + 3*36 + 3*36 + 96)/8 = 51 at x=216
        assert at(216, 70) != 255   # inside the bulge, painted
        assert at(108, 80) == 255   # near u=0.05 the curve is ~87.4
        assert at(150, 150) != 255  # interior still painted

    def test_tensor_patch_matches_flat_coons(self):
        # type 7: 4 interior points (ignored by the documented
        # approximation) appended after the boundary 12
        pts = self.FLAT_PTS + [(176, 176), (256, 176),
                               (176, 256), (256, 256)]
        at = self._at(self._obj(7, pts, self.COLS))
        assert abs(at(150, 150) - 63) <= 1
        assert at(90, 150) == 255

    @staticmethod
    def _edge(a, b):
        """Interior control points of a straight cubic a -> b."""
        return [(a[0] + (b[0] - a[0]) // 3, a[1] + (b[1] - a[1]) // 3),
                (a[0] + 2 * (b[0] - a[0]) // 3,
                 a[1] + 2 * (b[1] - a[1]) // 3)]

    @classmethod
    def _square12(cls, p1, p4, p7, p10):
        """12-point counterclockwise boundary with straight edges."""
        return ([p1] + cls._edge(p1, p4) + [p4] + cls._edge(p4, p7)
                + [p7] + cls._edge(p7, p10) + [p10]
                + cls._edge(p10, p1))

    def test_flag1_continuation_extends_right(self):
        """Flag-1 record (round-9): the previous patch's RIGHT edge
        (p4-p7) becomes the new patch's bottom edge; corner colors
        chain c2,c3 -> c1,c2 (ISO 32000-1 Table 85)."""
        patch1 = self._square12((100, 100), (200, 100),
                                (200, 200), (100, 200))
        # continuation square (200,100)-(300,200): p1=prevp4=(200,100)
        # p4=prevp7=(200,200) implied; new points p5..p12
        np7, np10 = (300, 200), (300, 100)
        cont = (self._edge((200, 200), np7) + [np7]
                + self._edge(np7, np10) + [np10]
                + self._edge(np10, (200, 100)))
        data = (b"\x00" + b"".join(
            self._struct.pack(">HH", x, y) for x, y in patch1)
            + bytes([0, 64, 128, 192])
            + b"\x01" + b"".join(
                self._struct.pack(">HH", x, y) for x, y in cont)
            + bytes([255, 255]))
        obj = (b"<< /ShadingType 6 /BitsPerFlag 8 "
               b"/BitsPerCoordinate 16 /BitsPerComponent 8 "
               b"/Decode [0 65535 0 65535 0 1.0] /Length "
               + str(len(data)).encode() + b" >>\nstream\n"
               + data + b"\nendstream")
        at = self._at(obj)
        # patch1 center: bilinear(0,64,128,192)/4 = 96
        assert abs(at(150, 150) - 96) <= 1
        # patch2 corners c1=64 c2=128 c3=255 c4=255 -> center 175.5
        assert abs(at(250, 150) - 176) <= 1
        # contiguous across the shared edge, white outside
        assert at(199, 150) != 255 and at(201, 150) != 255
        assert at(350, 150) == 255

    def test_flag123_chain_renders(self):
        """A flag-1 + flag-2 + flag-3 chain decodes (each sharing
        the spec'd edge of ITS previous patch) and paints all four
        squares."""
        sq = self._square12
        patch1 = sq((100, 100), (200, 100), (200, 200), (100, 200))
        # flag1: new p1=(200,100) p4=(200,200); square to the right
        c1 = (self._edge((200, 200), (300, 200)) + [(300, 200)]
              + self._edge((300, 200), (300, 100)) + [(300, 100)]
              + self._edge((300, 100), (200, 100)))
        # that patch: p1=(200,100) p4=(200,200) p7=(300,200)
        # p10=(300,100). flag2 shares p7..p10 -> new p1=(300,200)
        # p4=(300,100): square further right (300..400)
        c2 = (self._edge((300, 100), (400, 100)) + [(400, 100)]
              + self._edge((400, 100), (400, 200)) + [(400, 200)]
              + self._edge((400, 200), (300, 200)))
        # that patch: p1=(300,200) p4=(300,100) p7=(400,100)
        # p10=(400,200). flag3 shares p10,p11,p12,p1 -> new
        # p1=(400,200) p4=(300,200): square above (300..400, 200..300)
        c3 = (self._edge((300, 200), (300, 300)) + [(300, 300)]
              + self._edge((300, 300), (400, 300)) + [(400, 300)]
              + self._edge((400, 300), (400, 200)))
        pk = self._struct.pack
        data = (b"\x00" + b"".join(pk(">HH", x, y) for x, y in patch1)
                + bytes([0, 64, 128, 192])
                + b"\x01" + b"".join(pk(">HH", x, y) for x, y in c1)
                + bytes([255, 255])
                + b"\x02" + b"".join(pk(">HH", x, y) for x, y in c2)
                + bytes([32, 32])
                + b"\x03" + b"".join(pk(">HH", x, y) for x, y in c3)
                + bytes([96, 96]))
        obj = (b"<< /ShadingType 6 /BitsPerFlag 8 "
               b"/BitsPerCoordinate 16 /BitsPerComponent 8 "
               b"/Decode [0 65535 0 65535 0 1.0] /Length "
               + str(len(data)).encode() + b" >>\nstream\n"
               + data + b"\nendstream")
        at = self._at(obj)
        # all four squares painted, surroundings white
        for cx, cy in ((150, 150), (250, 150), (350, 150), (350, 250)):
            assert at(cx, cy) != 255, (cx, cy)
        assert at(450, 150) == 255
        assert at(250, 250) == 255
        # flag-2 patch: c1=prev c3=255, c2=prev c4=255, c3=c4=32
        # -> center ~(255+255+32+32)/4 = 143.5 (pixel-center u,v
        # lands a hair off exact center -> +/-3)
        assert abs(at(350, 150) - 144) <= 3

    def test_tensor_continuation_reads_12_points(self):
        """Type 7 continuation records carry 12 new points (p5-p16);
        the 4 interior ones are ignored like flag-0 records."""
        patch1 = self._square12((100, 100), (200, 100),
                                (200, 200), (100, 200)) \
            + [(130, 130), (170, 130), (130, 170), (170, 170)]
        np7, np10 = (300, 200), (300, 100)
        cont = (self._edge((200, 200), np7) + [np7]
                + self._edge(np7, np10) + [np10]
                + self._edge(np10, (200, 100))
                + [(230, 130), (270, 130), (230, 170), (270, 170)])
        pk = self._struct.pack
        data = (b"\x00" + b"".join(pk(">HH", x, y) for x, y in patch1)
                + bytes([0, 64, 128, 192])
                + b"\x01" + b"".join(pk(">HH", x, y) for x, y in cont)
                + bytes([255, 255]))
        obj = (b"<< /ShadingType 7 /BitsPerFlag 8 "
               b"/BitsPerCoordinate 16 /BitsPerComponent 8 "
               b"/Decode [0 65535 0 65535 0 1.0] /Length "
               + str(len(data)).encode() + b" >>\nstream\n"
               + data + b"\nendstream")
        at = self._at(obj)
        assert abs(at(150, 150) - 96) <= 1
        assert abs(at(250, 150) - 176) <= 1
        assert at(350, 150) == 255

    def test_declines_by_name(self):
        from pdf2dataset_spark.sources.codecs import PdfCodec
        from pdf2dataset_spark.sources.minipdf import StreamObj

        class _Doc:
            def resolve(self, v):
                return v

            def stream_bytes(self, o):
                return o.raw

        codec = PdfCodec()
        doc = _Doc()

        def patch_of(stype, flag, bpf=8):
            data = bytes([flag]) + b"\x00" * 52
            sd = {"/ShadingType": stype, "/BitsPerFlag": bpf,
                  "/BitsPerCoordinate": 16, "/BitsPerComponent": 8,
                  "/Decode": [0, 65535, 0, 65535, 0, 1.0]}
            return codec._mesh_patch(
                doc, StreamObj(sd, data), (1, 0, 0, 1, 0, 0), None,
                (0, 0, 612, 792))

        # a continuation flag with NO previous patch is malformed
        for f in (1, 2, 3):
            assert patch_of(6, f) is None
        # missing /BitsPerFlag declines
        sd = {"/ShadingType": 6, "/BitsPerCoordinate": 16,
              "/BitsPerComponent": 8,
              "/Decode": [0, 65535, 0, 65535, 0, 1.0]}
        assert PdfCodec()._mesh_patch(
            doc, StreamObj(sd, b"\x00" * 53), (1, 0, 0, 1, 0, 0),
            None, (0, 0, 612, 792)) is None


class TestCalculatorFunctions:
    """Round-7: Type 4 PostScript-calculator shading functions run in
    a step-budgeted mini-interpreter; malformed/hostile programs
    decline by name (the shading is skipped, never mis-painted)."""

    @staticmethod
    def _fn(prog: bytes, rng=(0, 1)):
        from pdf2dataset_spark.sources import minipdf

        return minipdf.StreamObj(
            {"/FunctionType": 4, "/Domain": [0, 1], "/Range": list(rng)},
            prog,
        )

    class _Doc:
        def resolve(self, v):
            return v

        def stream_bytes(self, o):
            return o.raw

    def _eval(self, prog, t, rng=(0, 1)):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        return PdfCodec._eval_pdf_function(self._Doc(), self._fn(prog, rng), t)

    def test_arithmetic_and_stack_ops(self):
        assert self._eval(b"{ }", 0.3) == [0.3]
        assert self._eval(b"{ 1 exch sub }", 0.25) == [0.75]
        assert self._eval(b"{ dup mul }", 0.5) == [0.25]
        assert abs(self._eval(b"{ 90 mul sin }", 0.5)[0] - 0.7071) < 1e-3
        assert self._eval(b"{ 2 exch exp }", 0.0) == [1.0]
        # multi-output + range clipping
        assert self._eval(
            b"{ dup 1 exch sub 0.5 }", 0.2, rng=(0, 1, 0, 1, 0, 1)
        ) == [0.2, 0.8, 0.5]
        assert self._eval(b"{ 5 mul }", 0.9) == [1.0]

    def test_conditionals(self):
        prog = b"{ 0.5 lt { 0 } { 1 } ifelse }"
        assert self._eval(prog, 0.3) == [0.0]
        assert self._eval(prog, 0.7) == [1.0]
        assert self._eval(b"{ dup 0.5 gt { pop 1 } if }", 0.9) == [1.0]

    def test_roll_copy_index(self):
        assert self._eval(b"{ 1 2 3 3 -1 roll }", 0.0,
                          rng=(0, 9, 0, 9, 0, 9, 0, 9)) == [0.0, 2, 3, 1]
        assert self._eval(b"{ 7 1 index }", 0.0,
                          rng=(0, 9, 0, 9, 0, 9)) == [0.0, 7, 0.0]

    def test_hostile_programs_decline(self):
        import pytest as _pytest

        for prog in (b"{ bogus }", b"{ pop pop }", b"{ 1 0 div }", b"{",
                     b"{ " + b"dup " * 10_050 + b"}", b"{ -1 sqrt }"):
            with _pytest.raises(ValueError):
                self._eval(prog, 0.5)

    def test_end_to_end_gradient(self):
        def raw(objs):
            out = bytearray(b"%PDF-1.5\n")
            for i, b in enumerate(objs, 1):
                out += b"%d 0 obj\n" % i + b + b"\nendobj\n"
            out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
            return bytes(out)

        from pdf2dataset_spark.sources.codecs import PdfCodec

        content = (b"BT /F1 12 Tf 72 700 Td (calc fn) Tj ET\n"
                   b"q 100 100 100 100 re W n /Sh0 sh Q")
        prog = b"{ 1 exch sub }"
        pdf = raw([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /Shading << /Sh0 "
            b"<< /ShadingType 2 /Coords [0 100 0 200] /Function 5 0 R "
            b"/Extend [true true] >> >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            b"<< /FunctionType 4 /Domain [0 1] /Range [0 1] /Length "
            + str(len(prog)).encode() + b" >>\nstream\n" + prog
            + b"\nendstream",
        ])
        codec = PdfCodec()
        h = codec.open(pdf)
        w, hh, px = codec._composite_pixels(h, 1)

        def at(x, y):
            return px[(hh - 1 - y) * w + x]

        assert at(150, 102) > 240   # t=0 -> 1.0 white
        assert at(150, 198) < 12    # t=1 -> 0.0 black


class TestType3Render:
    """Round-8 ask #3: Type3 /CharProcs execute into the composite
    render (glyph matrix = FontMatrix · [Tfs 0 0 Tfs 0 0] · Tm · CTM,
    real /Widths advances, builtin 5×7 raster suppressed for Type3
    runs)."""

    @staticmethod
    def _pdf(content: bytes, media: bytes = b"[0 0 200 150]") -> bytes:
        from pdf2dataset_spark.queries.tier_a import _raw_pdf

        sq = b"10 0 d0 1 1 8 8 re f"
        tri = b"10 0 d0 1 1 m 9 1 l 5 9 l h f"
        return _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /MediaBox "
            + media + b" /Resources << /Font << /F3 5 0 R >> >> >>",
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
        ])

    def _pixels(self, pdf: bytes):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(pdf)
        w, hh, px = codec._composite_pixels(h, 1)

        def at(x, y):  # bottom-left PDF origin
            return px[(hh - 1 - y) * w + x]

        return w, hh, at

    def test_charproc_geometry_hand_law(self):
        # /F3 24 Tf, FontMatrix 0.1 → glyph cell 10·0.1·24 = 24 user
        # units; 'A' square CharProc fills glyph (1,1)-(9,9) →
        # device (102.4,102.4)-(121.6,121.6)
        pdf = self._pdf(b"BT /F3 24 Tf 100 100 Td (AB) Tj ET")
        w, hh, at = self._pixels(pdf)
        assert (w, hh) == (200, 150)
        assert at(110, 110) == 0            # inside the square
        assert at(101, 101) == 255          # gutter inside cell, outside glyph
        assert at(123, 110) == 255          # between the two glyphs
        # 'B' triangle advanced by REAL width 10·0.1·24 = 24 units:
        # base (125.4..145.6, y≈102.4), apex x=136 y≈121.6
        assert at(136, 105) == 0            # inside the triangle
        assert at(127, 118) == 255          # above the left slope
        assert at(136, 119) == 0            # near the apex, inside

    def test_no_double_paint_with_builtin_glyphs(self):
        # the Type3 run must NOT also render via the builtin 5×7
        # table: with nothing but a Type3 show, every dark pixel
        # belongs to a CharProc cell (square spans ≥18px, the 5×7
        # grid raster would paint far outside it)
        pdf = self._pdf(b"BT /F3 24 Tf 100 100 Td (A) Tj ET")
        w, hh, at = self._pixels(pdf)
        dark = [
            (x, y)
            for y in range(hh)
            for x in range(w)
            if at(x, y) < 128
        ]
        assert dark
        assert all(102 <= x <= 122 and 102 <= y <= 122 for x, y in dark)

    def test_tz_scaling_and_tc_affect_advance(self):
        # 200 Tz doubles the horizontal advance (placement of the 2nd
        # glyph) while each glyph cell also stretches ×2 horizontally
        pdf = self._pdf(b"BT /F3 24 Tf 200 Tz 10 100 Td (AB) Tj ET")
        w, hh, at = self._pixels(pdf)
        # square now spans x 10+2·2.4 .. 10+2·21.6 = 14.8..53.2
        assert at(30, 110) == 0
        # triangle base starts at 10+48+2·2.4 = 62.8
        assert at(90, 105) == 0  # apex column x = 10+48+2·12 = 82?  generous interior probe
        assert at(57, 110) == 255  # gap between the stretched cells

    def test_mixed_builtin_and_type3(self):
        # a Helvetica run still rasterizes via the 5×7 table on the
        # same composite page (suppression is per-run, not global)
        content = (b"BT /F1 8 Tf 20 130 Td (hi) Tj ET\n"
                   b"BT /F3 24 Tf 100 100 Td (A) Tj ET")
        pdf = self._pdf(content)
        w, hh, at = self._pixels(pdf)
        assert at(110, 110) == 0  # Type3 square
        # builtin glyphs for 'hi' paint somewhere in their line box
        band = [
            at(x, y) for y in range(126, 142) for x in range(18, 40)
        ]
        assert min(band) < 128

    def test_extraction_text_unchanged(self):
        from pdf2dataset_spark.sources import minipdf

        pdf = self._pdf(b"BT /F3 24 Tf 100 100 Td (AB) Tj ET")
        assert minipdf.extract_page_texts(pdf) == ["AB"]


class TestClipStencils:
    """Round-8: non-rect / multi-rect / chained clip paths gate every
    painter per pixel via polygon stencil chains."""

    @staticmethod
    def _pdf(content: bytes, extra_objs: list | None = None,
             resources: bytes = b"") -> bytes:
        from pdf2dataset_spark.queries.tier_a import _raw_pdf

        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 200 150]" + resources + b" >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
        ] + (extra_objs or [])
        return _raw_pdf(objs)

    def _pixels(self, pdf: bytes):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(pdf)
        w, hh, px = codec._composite_pixels(h, 1)

        def at(x, y):
            return px[(hh - 1 - y) * w + x]

        return w, hh, at

    def test_triangle_clip_gates_fill(self):
        content = (b"BT /F1 12 Tf 10 140 Td (t) Tj ET\n"
                   b"q 20 20 m 120 20 l 70 120 l h W n "
                   b"0 0 200 150 re f Q")
        _, _, at = self._pixels(self._pdf(content))
        assert at(70, 50) == 0 and at(70, 110) == 0
        assert at(30, 100) == 255 and at(110, 100) == 255
        assert at(10, 10) == 255  # outside the triangle bbox

    def test_multi_rect_clip_union(self):
        content = (b"BT /F1 12 Tf 10 140 Td (t) Tj ET\n"
                   b"q 130 20 20 20 re 160 20 20 20 re W n "
                   b"128 10 60 60 re f Q")
        _, _, at = self._pixels(self._pdf(content))
        assert at(140, 30) == 0 and at(165, 30) == 0
        assert at(155, 30) == 255 and at(140, 50) == 255

    def test_chained_clips_intersect(self):
        # rect clip then triangle clip: only the AND survives
        content = (b"BT /F1 12 Tf 10 140 Td (t) Tj ET\n"
                   b"q 0 0 70 150 re W n "
                   b"20 20 m 120 20 l 70 120 l h W n "
                   b"0 0 200 150 re f Q")
        _, _, at = self._pixels(self._pdf(content))
        assert at(50, 40) == 0          # inside both
        assert at(90, 40) == 255        # inside triangle, outside rect
        assert at(30, 100) == 255       # inside rect, outside triangle

    def test_clip_gates_strokes_and_images(self):
        px_img = bytes([0] * (8 * 8))  # solid black 8x8
        img = (b"<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
               b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
               b"/Length 64 >>\nstream\n" + px_img + b"\nendstream")
        content = (b"BT /F1 12 Tf 10 140 Td (t) Tj ET\n"
                   b"q 20 20 m 120 20 l 70 120 l h W n "
                   b"0 60 200 0.8 re f "   # thin bar through the tri
                   b"q 40 0 0 40 50 25 cm /Im0 Do Q Q")
        pdf = self._pdf(
            content, extra_objs=[img],
            resources=b" /Resources << /XObject << /Im0 5 0 R >> >>",
        )
        _, _, at = self._pixels(pdf)
        # the bar paints only inside the triangle at y=60
        assert at(60, 60) == 0 and at(10, 60) == 255
        # the image (50..90, 25..65) is gated by the triangle too:
        # its bottom-left corner (52,27) is OUTSIDE the triangle edge
        assert at(70, 45) == 0          # image center, inside tri
        assert at(27, 27) == 255        # left of tri, no image there

    def test_rotated_ctm_rect_clip_becomes_stencil(self):
        # a 45-degree CTM: the rect clip is a diamond now — honored
        content = (b"BT /F1 12 Tf 10 140 Td (t) Tj ET\n"
                   b"q 0.7071 0.7071 -0.7071 0.7071 100 20 cm "
                   b"0 0 40 40 re W n "
                   b"0 0 200 150 re f Q")
        _, _, at = self._pixels(self._pdf(content))
        # diamond corners: (100,20),(128,48),(100,77),(72,48)
        assert at(100, 48) == 0         # center
        assert at(100, 24) == 0         # near the bottom corner
        assert at(78, 26) == 255        # inside bbox, outside diamond
        assert at(124, 70) == 255


class TestUncoloredTiling:
    """PaintType 2 (uncolored) tiling patterns (round-8): the cell's
    geometry is a pure stencil painted in the scn operands' color;
    the cell's own color operators are ignored (ISO 32000-1
    8.7.3.3)."""

    @staticmethod
    def _pdf(scn: bytes, cell: bytes) -> bytes:
        from pdf2dataset_spark.queries.tier_a import _raw_pdf

        content = (b"BT /F1 12 Tf 10 140 Td (u) Tj ET\n"
                   b"/Pattern cs " + scn + b" 20 20 100 80 re f")
        return _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 200 150] "
            b"/Resources << /Pattern << /P0 5 0 R >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            b"<< /PatternType 1 /PaintType 2 /TilingType 1 "
            b"/BBox [0 0 10 10] /XStep 10 /YStep 10 "
            b"/Resources << >> /Length " + str(len(cell)).encode()
            + b" >>\nstream\n" + cell + b"\nendstream",
        ])

    def _counts(self, pdf):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(pdf)
        w, hh, px = codec._composite_pixels(h, 1)
        by_val: dict = {}
        for cy in range(hh):
            for x in range(w):
                v = px[cy * w + x]
                if v != 255:
                    y = hh - 1 - cy
                    by_val.setdefault(v, []).append((x, y))
        return by_val

    def test_scn_gray_paints_the_stencil(self):
        by_val = self._counts(self._pdf(b"0.2 /P0 scn",
                                        b"0 0 m 10 10 l S"))
        pts = by_val.get(51, [])
        assert len(pts) > 50  # the hatch exists, in scn gray
        assert all(19 <= x <= 121 and 19 <= y <= 101 for x, y in pts)

    def test_cell_colors_ignored_for_uncolored(self):
        # the cell SETS red, but PaintType 2 must paint scn's 0.2
        by_val = self._counts(self._pdf(
            b"0.2 /P0 scn", b"1 0 0 rg 2 2 6 6 re f"))
        assert 51 in by_val and len(by_val[51]) > 500
        assert 76 not in by_val  # luma(1,0,0)=76 must NOT appear

    def test_rgb_scn_operands(self):
        # scn 0.1 0.9 0.1 -> BT.601 luma
        by_val = self._counts(self._pdf(
            b"0.1 0.9 0.1 /P0 scn", b"2 2 6 6 re f"))
        lum = round((0.299 * 0.1 + 0.587 * 0.9 + 0.114 * 0.1) * 255)
        assert lum in by_val and len(by_val[lum]) > 500

    def test_colored_cells_keep_their_colors(self):
        # PaintType 1 regression: cell colors win, scn gray ignored
        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        cell = b"0.5 g 2 2 6 6 re f"
        content = (b"BT /F1 12 Tf 10 140 Td (u) Tj ET\n"
                   b"/Pattern cs /P0 scn 20 20 100 80 re f")
        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 200 150] "
            b"/Resources << /Pattern << /P0 5 0 R >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
            b"/BBox [0 0 10 10] /XStep 10 /YStep 10 "
            b"/Resources << >> /Length " + str(len(cell)).encode()
            + b" >>\nstream\n" + cell + b"\nendstream",
        ])
        codec = PdfCodec()
        h = codec.open(pdf)
        w, hh, px = codec._composite_pixels(h, 1)
        assert 128 in set(px)


class TestBlendSoftMask:
    """Round-9: separable blend modes (ISO 32000-1 §11.3.5) and
    per-pixel image /SMask alpha in the composite render."""

    def test_blend_gray_laws(self):
        from pdf2dataset_spark.sources.raster import _blend_gray

        for b in (0, 51, 128, 204, 255):
            for s in (0, 51, 128, 204, 255):
                mul = _blend_gray("Multiply", b, s)
                scr = _blend_gray("Screen", b, s)
                # screen is multiply's dual: 1-(1-b)(1-s)
                assert abs(scr - (255 - _blend_gray(
                    "Multiply", 255 - b, 255 - s))) <= 1
                # overlay(b,s) == hardlight(s,b) (roles swapped)
                assert _blend_gray("Overlay", b, s) == \
                    _blend_gray("HardLight", s, b)
                assert _blend_gray("Darken", b, s) == min(b, s)
                assert _blend_gray("Lighten", b, s) == max(b, s)
                assert _blend_gray("Difference", b, s) == abs(b - s)
                # exclusion == difference on the extremes
                if b in (0, 255) or s in (0, 255):
                    assert abs(_blend_gray("Exclusion", b, s)
                               - abs(b - s)) <= 1
                assert mul <= min(b, s) + 1
                assert scr >= max(b, s) - 1
                for m in ("ColorDodge", "ColorBurn", "SoftLight"):
                    assert 0 <= _blend_gray(m, b, s) <= 255
        # identity edges of dodge/burn (Table 136)
        assert _blend_gray("ColorDodge", 0, 128) == 0
        assert _blend_gray("ColorDodge", 128, 255) == 255
        assert _blend_gray("ColorBurn", 255, 128) == 255
        assert _blend_gray("ColorBurn", 128, 0) == 0
        # white multiply / black screen are identities
        assert _blend_gray("Multiply", 77, 255) == 77
        assert _blend_gray("Screen", 77, 0) == 77

    def test_compose_page_blend_and_pixel_alpha(self):
        from pdf2dataset_spark.sources import raster

        # 10x10 canvas: backdrop fill 204, then a Multiply fill with
        # a per-item blend, then an image with a per-pixel alpha ramp
        ialpha = bytes([0, 128, 255, 255])
        img = (2, 2, bytes([0, 0, 0, 0]),
               (4.0, 0.0, 0.0, 2.0, 0.0, 2.0), None, ialpha)
        w, h, px = raster.compose_page(
            10, 10,
            fills=[(0, 0, 10, 10, 204), (0, 0, 10, 10, 128)],
            images=[img],
            order=[("fills", 0), ("fills", 1), ("images", 0)],
            blends={("fills", 1): "Multiply"},
        )
        # multiply: 204*128/255 = 102
        assert px[0] == 102
        # image covers x [0,4), y [2,4): TOP source row (alpha 0,
        # 128) lands on canvas row 6, bottom row (alpha 255) on 7
        top, bot = 6 * 10, 7 * 10
        assert px[top + 0] == 102          # alpha 0: untouched
        assert abs(px[top + 2] - 51) <= 1  # alpha 128: half toward 0
        assert px[bot + 0] == 0            # alpha 255: opaque src

    @staticmethod
    def _smask_blend_pdf():
        import zlib

        from pdf2dataset_spark.queries.tier_a import _raw_pdf

        base = bytes([40] * 16)
        alpha = bytes((0 if x < 2 else 255)
                      for y in range(4) for x in range(4))
        img_data = zlib.compress(base)
        sm_data = zlib.compress(alpha)
        content = (
            b"BT /F1 12 Tf 72 700 Td (smask blend page) Tj ET\n"
            b"0.8 g 100 380 200 120 re f\n"
            b"q 120 0 0 80 110 400 cm /Im0 Do Q\n"
            b"/Gm gs 0.5 g 90 360 220 60 re f\n"
        )
        return _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << "
            b"/XObject << /Im0 5 0 R >> "
            b"/ExtGState << /Gm << /BM /Multiply >> >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 4 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
            b"/Filter /FlateDecode /SMask 6 0 R "
            b"/Length " + str(len(img_data)).encode()
            + b" >>\nstream\n" + img_data + b"\nendstream",
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 4 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
            b"/Filter /FlateDecode "
            b"/Length " + str(len(sm_data)).encode()
            + b" >>\nstream\n" + sm_data + b"\nendstream",
        ])

    def test_codec_smask_multiply_laws(self):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        hdl = codec.open(self._smask_blend_pdf())
        W, H, px = codec._composite_pixels(hdl, 1)

        def g(x, y):
            return px[(H - y) * W + x]

        assert g(130, 450) == 204  # smask=0: backdrop shows through
        assert g(200, 450) == 40   # smask=255: opaque image gray
        assert g(150, 390) == 102  # multiply over 0.8 g: 204*128/255
        assert g(95, 365) == 128   # multiply over white: source gray

    def test_ext_gstate_bm_parsing(self):
        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources import minipdf

        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /ExtGState << "
            b"/Ga << /BM /Darken >> "
            b"/Gb << /BM [/Screen /Multiply] >> "
            b"/Gc << /BM /Normal >> "
            b"/Gd << /BM /Luminosity >> >> >> >>",
            b"<< /Length 4 >>\nstream\n0 g\nendstream",
        ])
        doc = minipdf.PdfDocument(pdf)
        gs = doc.page_ext_gstates(doc.pages()[0])
        assert gs["/Ga"]["BM"] == "Darken"
        assert gs["/Gb"]["BM"] == "Screen"  # array: first member
        assert gs["/Gc"]["BM"] is None      # Normal: explicit reset
        assert gs["/Gd"]["BM"] is None      # non-separable -> Normal

    def test_blend_save_restore(self):
        """q/Q restores the blend mode like the rest of gstate."""
        from pdf2dataset_spark.sources import minipdf

        d = minipdf.content_draw_ops(
            b"q /Gm gs 0.5 g 0 0 10 10 re f Q 0.5 g 20 0 10 10 re f",
            ext_gstates={"/Gm": {"BM": "Multiply"}},
        )
        assert d["blends"] == {("fills", 0): "Multiply"}


class TestNonRectPatternFill:
    """Round-9: non-rect pattern-fill REGIONS — the filled subpath
    becomes a polygon stencil gating the pattern patch."""

    @staticmethod
    def _render():
        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        cell = b"0 0 m 10 10 l S"
        content = (
            b"BT /F1 12 Tf 72 700 Td (poly pattern) Tj ET\n"
            b"/Pattern cs /P0 scn 100 100 m 300 100 l 200 300 l h f\n"
            b"/Pattern cs 0.2 /P1 scn 350 100 m 550 100 l "
            b"450 300 l h f\n"
        )
        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /Pattern << "
            b"/P0 << /PatternType 2 /Matrix [1 0 0 1 0 0] "
            b"/Shading << /ShadingType 2 /Coords [100 0 300 0] "
            b"/Function << /FunctionType 2 /C0 [0.1] /C1 [0.9] "
            b"/N 1 >> /Extend [true true] >> >> /P1 5 0 R >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            b"<< /PatternType 1 /PaintType 2 /TilingType 1 "
            b"/BBox [0 0 10 10] /XStep 10 /YStep 10 "
            b"/Resources << >> "
            b"/Length " + str(len(cell)).encode() + b" >>\nstream\n"
            + cell + b"\nendstream",
        ])
        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        assert out is not None
        W, H, px = out
        return lambda x, y: px[(H - y) * W + x]

    def test_shading_pattern_in_triangle(self):
        g = self._render()
        # interior: the axial ramp paints (x=200 -> t=0.5 -> 128)
        assert g(200, 150) == 128
        # bbox corners OUTSIDE the triangle stay white
        assert g(110, 290) == 255
        assert g(290, 290) == 255
        # region edge gates exactly: just inside vs just outside
        assert g(200, 101) != 255
        assert g(200, 310) == 255

    def test_tiling_pattern_in_triangle(self):
        g = self._render()
        ink = sum(1 for x in range(360, 540) for y in range(110, 290)
                  if g(x, y) != 255)
        assert ink > 500  # hatch painted inside
        # hatch ink is the scn gray (0.2 -> 51)
        grays = {g(x, y) for x in range(360, 540)
                 for y in range(110, 290)} - {255}
        assert grays == {51}
        # bbox-corner regions outside the triangle: no ink
        assert all(g(x, y) == 255 for x in range(355, 370)
                   for y in range(280, 295))

    def test_draw_ops_emits_region_stencil(self):
        from pdf2dataset_spark.sources import minipdf

        d = minipdf.content_draw_ops(
            b"/Pattern cs /P0 scn 10 10 m 110 10 l 60 110 l h f")
        assert len(d["pattern_fills"]) == 1
        name, rect, scn_g = d["pattern_fills"][0]
        assert name == "/P0" and rect == (10.0, 10.0, 110.0, 110.0)
        chain = d["stencils"][("pattern_fills", 0)]
        assert len(chain) == 1  # the region polygon group
        # the triangle (h re-appends the start point -> 4 vertices)
        assert len(chain[0][0]) == 4


class TestTilingNestedAndOverlap:
    """Round-9: tiling cells that Do image XObjects, and overlapping
    tiles (XStep/YStep < cell) composited into a period cell."""

    @staticmethod
    def _pdf(cell, pat_extra=b"/Resources << >> ", objs_extra=(),
             fill=b"100 100 60 30 re f", paint=b"/P1 scn"):
        from pdf2dataset_spark.queries.tier_a import _raw_pdf

        content = (b"BT /F1 12 Tf 72 700 Td (tiles) Tj ET\n"
                   b"/Pattern cs " + paint + b" " + fill)
        return _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /Pattern << "
            b"/P1 5 0 R >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            cell[0] + pat_extra + b"/Length "
            + str(len(cell[1])).encode() + b" >>\nstream\n"
            + cell[1] + b"\nendstream",
            *objs_extra,
        ])

    @classmethod
    def _render(cls, pdf):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        assert out is not None
        W, H, px = out
        return lambda x, y: px[(H - y) * W + x]

    def test_nested_image_in_cell(self):
        import zlib

        img_data = zlib.compress(bytes([30] * 36))
        img_obj = (
            b"<< /Type /XObject /Subtype /Image /Width 6 /Height 6 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
            b"/Filter /FlateDecode /Length "
            + str(len(img_data)).encode() + b" >>\nstream\n"
            + img_data + b"\nendstream")
        g = self._render(self._pdf(
            (b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
             b"/BBox [0 0 10 10] /XStep 10 /YStep 10 ",
             b"q 6 0 0 6 2 2 cm /Ic Do Q"),
            pat_extra=b"/Resources << /XObject << /Ic 6 0 R >> >> ",
            objs_extra=(img_obj,),
            fill=b"100 100 200 100 re f"))
        # image footprint [2,8) per 10-unit tile, phase at page origin
        assert g(105, 105) == 30   # inside the stamped image
        assert g(101, 109) == 255  # tile gap stays transparent
        ink = sum(1 for x in range(100, 300) for y in range(100, 200)
                  if g(x, y) == 30)
        assert ink == 36 * 20 * 10  # exact planted rate

    def test_nested_image_uncolored_stencil(self):
        """PaintType 2: the image FOOTPRINT paints in scn gray."""
        import zlib

        img_data = zlib.compress(bytes([30] * 36))
        img_obj = (
            b"<< /Type /XObject /Subtype /Image /Width 6 /Height 6 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
            b"/Filter /FlateDecode /Length "
            + str(len(img_data)).encode() + b" >>\nstream\n"
            + img_data + b"\nendstream")
        g = self._render(self._pdf(
            (b"<< /PatternType 1 /PaintType 2 /TilingType 1 "
             b"/BBox [0 0 10 10] /XStep 10 /YStep 10 ",
             b"q 6 0 0 6 2 2 cm /Ic Do Q"),
            pat_extra=b"/Resources << /XObject << /Ic 6 0 R >> >> ",
            objs_extra=(img_obj,),
            paint=b"0.2 /P1 scn"))
        assert g(105, 105) == 51   # scn 0.2, not the image's 30
        assert g(101, 109) == 255

    def test_stenciled_nested_image_declines(self):
        """Round-10 advice fix: a nested image Do'd under a
        NON-RECT clip in the cell declines the whole pattern (its
        paint would ignore the stencil and over-paint)."""
        import zlib

        from pdf2dataset_spark.sources.codecs import PdfCodec

        img_data = zlib.compress(bytes([30] * 36))
        img_obj = (
            b"<< /Type /XObject /Subtype /Image /Width 6 /Height 6 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
            b"/Filter /FlateDecode /Length "
            + str(len(img_data)).encode() + b" >>\nstream\n"
            + img_data + b"\nendstream")
        for clip, expect_none in (
            (b"q 0 0 m 10 0 l 0 10 l h W n ", True),
            (b"", False),
        ):
            pdf = self._pdf(
                (b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
                 b"/BBox [0 0 10 10] /XStep 10 /YStep 10 ",
                 clip + b"q 6 0 0 6 2 2 cm /Ic Do Q"
                 + (b" Q" if clip else b"")),
                pat_extra=b"/Resources << /XObject << /Ic 6 0 R "
                          b">> >> ",
                objs_extra=(img_obj,))
            codec = PdfCodec()
            doc = codec.open(pdf).doc
            pg = doc.pages()[0]
            res = doc.resolve(pg.get("/Resources"))
            pat = doc.resolve(
                doc.resolve(res.get("/Pattern")).get("/P1"))
            out = codec._tiling_patch(
                doc, pat, (100, 100, 160, 130), (0, 0, 612, 792))
            assert (out is None) == expect_none

    def test_overlapping_tiles_full_coverage(self):
        """Cell wider than XStep: the union covers every column."""
        g = self._render(self._pdf(
            (b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
             b"/BBox [0 0 10 10] /XStep 6 /YStep 10 ",
             b"0.2 g 0 0 8 10 re f")))
        assert {g(x, 115) for x in range(100, 160)} == {51}

    def test_overlapping_tiles_nearest_wins(self):
        """Where tiles overlap, the nearest covering tile's pixel
        wins (tiles paint in increasing-origin order)."""
        # cell: columns [0,2) dark 0.1, [2,8) light 0.8; XStep 6.
        # At u mod 6 in [0,2): nearest tile paints dark; [2,6): light
        # (the overlap from the previous tile's [6,8) stripe is
        # UNDER the nearest tile's paint).
        g = self._render(self._pdf(
            (b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
             b"/BBox [0 0 10 10] /XStep 6 /YStep 10 ",
             b"0.1 g 0 0 2 10 re f 0.8 g 2 0 6 10 re f")))
        dark, light = round(0.1 * 255), round(0.8 * 255)
        for x in range(102, 160):
            expect = dark if x % 6 < 2 else light
            assert g(x, 115) == expect, (x, g(x, 115), expect)

    def test_fractional_overlap_supersamples(self):
        """Round-9 introduced eighths-only fractional steps;
        round-10 (verdict ask #4) generalizes to ANY exact rational
        — q is the lcm of the step denominators, capped only by the
        raster-area budget. Irrational and sub-unit steps still
        decline by name."""
        from pdf2dataset_spark.sources.codecs import PdfCodec

        # 8-wide stripe: XStep 6.5 (q=2) and 6.3 (q=10, declined
        # before round-10) both cover every column
        for step in (b"6.5", b"6.3"):
            g = self._render(self._pdf(
                (b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
                 b"/BBox [0 0 10 10] /XStep " + step + b" /YStep 10 ",
                 b"0.2 g 0 0 8 10 re f")))
            assert {g(x, 115) for x in range(100, 160)} == {51}, step
        # tenths with TWO stripes: dark [0,2) / light [2,10) on
        # XStep 6.3 — nearest-tile-wins at the exact rational
        # period (u = x mod 6.3; skip the sub-pixel stripe
        # boundaries, assert exact grays elsewhere)
        g = self._render(self._pdf(
            (b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
             b"/BBox [0 0 10 10] /XStep 6.3 /YStep 10 ",
             b"0.1 g 0 0 2 10 re f 0.8 g 2 0 8 10 re f")))
        dark, light = round(0.1 * 255), round(0.8 * 255)
        checked = 0
        for x in range(102, 160):
            u = x % 6.3
            if min(u, abs(u - 2), 6.3 - u) < 1.0:
                continue  # stripe-edge pixel: rasterization edge
            assert g(x, 115) == (dark if u < 2 else light), (x, u)
            checked += 1
        assert checked >= 15  # the skip must not hollow out the law

        def _decline(step: bytes):
            pdf = self._pdf(
                (b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
                 b"/BBox [0 0 10 10] /XStep " + step + b" /YStep 10 ",
                 b"0.2 g 0 0 8 10 re f"))
            codec = PdfCodec()
            doc = codec.open(pdf).doc
            pg = doc.pages()[0]
            res = doc.resolve(pg.get("/Resources"))
            pat = doc.resolve(
                doc.resolve(res.get("/Pattern")).get("/P1"))
            return codec._tiling_patch(
                doc, pat, (100, 100, 160, 130), (0, 0, 612, 792))

        # irrational (sqrt(2)*5 to full double precision): declined
        assert _decline(b"7.0710678118654755") is None
        # sub-unit step: still declined
        assert _decline(b"0.9") is None
        # exact rational whose q blows the area budget
        # (6.01 -> q=100: 10*10*100*100 px >> 2^16): declined
        assert _decline(b"6.01") is None


class TestImageColorspaces:
    """Round-9: /Separation tint transforms and /ICCBased N /
    DeviceCMYK sample interpretation in _entry_gray."""

    @staticmethod
    def _doc(objs):
        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources import minipdf

        return minipdf.PdfDocument(_raw_pdf(objs))

    def _entry(self, doc):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        pg = doc.pages()[0]
        e = doc.page_images(pg, decode_pixels=True)[0]
        return e, PdfCodec()._entry_gray(e, doc)

    def test_separation_tint_maps_through_transform(self):
        import zlib

        tint = bytes([0, 128, 255, 255] * 2)
        data = zlib.compress(tint)
        doc = self._doc([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 100 100] /Resources << /XObject << "
            b"/Im0 5 0 R >> >> >>",
            b"<< /Length 4 >>\nstream\n0 g\nendstream",
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 2 "
            b"/ColorSpace [/Separation /Ink /DeviceGray "
            b"<< /FunctionType 2 /Domain [0 1] /C0 [1] /C1 [0] "
            b"/N 1 >>] /BitsPerComponent 8 /Filter /FlateDecode "
            b"/Length " + str(len(data)).encode() + b" >>\nstream\n"
            + data + b"\nendstream",
        ])
        e, g = self._entry(doc)
        assert e["cs_kind"] == "separation"
        w, h, px = g
        # tint 0 -> alt gray 1.0 -> 255 (no ink = WHITE); tint 255
        # -> alt gray 0 -> 0; tint 128 -> ~127
        assert px[0] == 255
        assert abs(px[1] - 127) <= 1
        assert px[2] == 0

    def test_separation_unsupported_fn_declines(self):
        import zlib

        data = zlib.compress(bytes(8))
        doc = self._doc([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 100 100] /Resources << /XObject << "
            b"/Im0 5 0 R >> >> >>",
            b"<< /Length 4 >>\nstream\n0 g\nendstream",
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 2 "
            b"/ColorSpace [/Separation /Ink /DeviceGray "
            b"<< /FunctionType 99 >>] "
            b"/BitsPerComponent 8 /Filter /FlateDecode "
            b"/Length " + str(len(data)).encode() + b" >>\nstream\n"
            + data + b"\nendstream",
        ])
        e, g = self._entry(doc)
        assert g is None  # decline, never mis-paint

    def test_iccbased_n4_converts_as_cmyk(self):
        import zlib

        px4 = bytes([255, 0, 0, 0, 0, 0, 0, 255] * 4)
        data = zlib.compress(px4)
        doc = self._doc([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 100 100] /Resources << /XObject << "
            b"/Im0 5 0 R >> >> >>",
            b"<< /Length 4 >>\nstream\n0 g\nendstream",
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 2 "
            b"/ColorSpace [/ICCBased 6 0 R] /BitsPerComponent 8 "
            b"/Filter /FlateDecode "
            b"/Length " + str(len(data)).encode() + b" >>\nstream\n"
            + data + b"\nendstream",
            b"<< /N 4 /Length 4 >>\nstream\nfake\nendstream",
        ])
        e, g = self._entry(doc)
        assert e["cs_kind"] == "icc" and e["cs_ncomp"] == 4
        w, h, px = g
        assert px[0] == 170  # pure cyan: (1-0)*(1-1/3) = 2/3
        assert px[1] == 0    # pure black
        # matches the k-operator luma the geometry path uses
        from pdf2dataset_spark.sources.minipdf import _luma
        assert px[0] == _luma([1.0, 0.0, 0.0, 0.0])

    def test_device_cmyk_raw_plane(self):
        """A bare 4-component sample plane (DeviceCMYK raw) converts
        without any cs_kind tag."""
        from pdf2dataset_spark.sources.codecs import PdfCodec

        e = {"pixels": bytes([0, 0, 0, 0, 0, 0, 0, 255]),
             "width": 2, "height": 1}
        w, h, px = PdfCodec()._entry_gray(e)
        assert (w, h) == (2, 1)
        assert px[0] == 255 and px[1] == 0


class TestStrokePatterns:
    """Round-9: /Pattern CS + SCN stroke patterns — stroke quads
    pattern-fill through the region-stencil path; thin strokes
    widen to the raster's 1-px floor."""

    def test_thick_pattern_stroke_paints_quad(self):
        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        content = (
            b"BT /F1 12 Tf 72 700 Td (stroke pattern) Tj ET\n"
            b"/Pattern CS /P0 SCN 10 w 100 300 m 300 300 l S\n"
            b"/Pattern CS /P0 SCN 0.5 w 100 200 m 300 200 l S\n"
        )
        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /Pattern << "
            b"/P0 << /PatternType 2 /Matrix [1 0 0 1 0 0] "
            b"/Shading << /ShadingType 2 /Coords [100 0 300 0] "
            b"/Function << /FunctionType 2 /C0 [0.1] /C1 [0.9] "
            b"/N 1 >> /Extend [true true] >> >> >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
        ])
        codec = PdfCodec()
        h = codec.open(pdf)
        W, H, px = codec._composite_pixels(h, 1)

        def g(x, y):
            return px[(H - y) * W + x]

        # inside the 10-wide stroke band: the axial ramp paints
        assert g(200, 300) == 128   # t=0.5 along the ramp
        assert g(110, 300) != 255 and g(290, 300) != 255
        # outside the band (6px above): white
        assert g(200, 308) == 255
        # round-9 follow-up: the thin pattern stroke widens to the
        # raster's 1-px floor and paints the ramp along the line
        # (the half-unit quad may land on either adjacent scanline)
        assert g(200, 200) != 255 or g(200, 201) != 255
        assert g(200, 206) == 255  # still thin: nothing 6px away

    def test_color_ops_clear_stroke_pattern(self):
        from pdf2dataset_spark.sources import minipdf

        d = minipdf.content_draw_ops(
            b"/Pattern CS /P0 SCN 1 w 0.5 G 0 0 m 50 0 l S")
        assert d["pattern_fills"] == []
        assert len(d["lines"]) == 1


class TestLuminosityMask:
    """Round-9: ExtGState /SMask LUMINOSITY groups — the mask form
    rasterizes once (painted pixels -> their gray, unpainted -> /BC)
    and gates every subsequent paint's alpha per pixel."""

    @staticmethod
    def _pdf(bc=b"", mask_body=None, content=None):
        from pdf2dataset_spark.queries.tier_a import _raw_pdf

        mask_body = mask_body or (
            b"q 100 300 200 100 re W n /Sh0 sh Q")
        mask_form = (
            b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
            b"/Group << /S /Transparency /CS /DeviceGray >> "
            b"/Resources << /Shading << /Sh0 << /ShadingType 2 "
            b"/Coords [100 0 300 0] "
            b"/Function << /FunctionType 2 /C0 [1.0] /C1 [0.0] "
            b"/N 1 >> /Extend [true true] >> >> >> /Length "
            + str(len(mask_body)).encode() + b" >>\nstream\n"
            + mask_body + b"\nendstream")
        content = content or (
            b"BT /F1 12 Tf 72 700 Td (luma mask) Tj ET\n"
            b"/Gm gs 0 g 100 300 200 100 re f\n"
            b"q /Gn gs 0.5 g 100 500 100 50 re f Q\n")
        return _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /ExtGState << "
            b"/Gm << /SMask << /S /Luminosity /G 5 0 R " + bc
            + b" >> >> /Gn << /SMask /None >> >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            mask_form,
        ])

    @staticmethod
    def _render(pdf):
        from pdf2dataset_spark.sources.codecs import PdfCodec

        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        assert out is not None
        W, H, px = out
        return lambda x, y: px[(H - y) * W + x]

    def test_gradient_mask_fades_fill(self):
        g = self._render(self._pdf())
        assert g(101, 350) <= 4     # lum ~1: opaque black fill
        assert abs(g(200, 350) - 128) <= 2  # lum 0.5: half fade
        assert g(295, 350) >= 246   # lum ~0: backdrop shows
        # outside the mask's painted band: BC default 0 -> alpha 0
        assert g(150, 290) == 255
        # /None reset: the second fill paints opaque
        assert g(150, 520) == 128

    def test_bc_backdrop_luminosity(self):
        # mask band covers only the LOWER half of the fill; the
        # upper half is backdrop territory: /BC [1] (white = alpha
        # 1) paints it fully, the default /BC (black = alpha 0)
        # leaves it untouched
        half_band = b"q 100 300 200 50 re W n /Sh0 sh Q"
        g = self._render(self._pdf(bc=b"/BC [1]",
                                   mask_body=half_band))
        assert g(150, 375) <= 4    # outside band: BC=1 -> opaque
        g = self._render(self._pdf(mask_body=half_band))
        assert g(150, 375) == 255  # default BC=0 -> transparent
        assert g(150, 325) <= 70   # inside band both ways

    def test_alpha_subtype_masks_by_footprint(self):
        """Round-9: /Alpha groups mask by the group's PAINTED
        FOOTPRINT (alpha == 1 where painted in the opaque-paint
        model), regardless of the group's own gray values."""
        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        # the mask form paints a LIGHT (0.9 g) band over the lower
        # half of the fill area: luminosity would fade the fill to
        # ~10%; /Alpha must paint it fully there and not at all
        # outside the footprint
        body = b"0.9 g 100 300 200 50 re f"
        form = (b"<< /Type /XObject /Subtype /Form "
                b"/BBox [0 0 612 792] /Length "
                + str(len(body)).encode() + b" >>\nstream\n"
                + body + b"\nendstream")
        content = b"/Ga gs 0 g 100 300 200 100 re f\n"
        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /ExtGState << "
            b"/Ga << /SMask << /S /Alpha /G 5 0 R >> >> >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            form,
        ])
        codec = PdfCodec()
        h = codec.open(pdf)
        W, H, px = codec._composite_pixels(h, 1)

        def g(x, y):
            return px[(H - y) * W + x]

        assert g(150, 325) == 0    # inside footprint: fully painted
        assert g(150, 375) == 255  # outside footprint: alpha 0

    def test_journal_carries_gs_name(self):
        from pdf2dataset_spark.sources import minipdf

        d = minipdf.content_draw_ops(
            b"/Gm gs 0 g 0 0 10 10 re f "
            b"/Gn gs 0.5 g 20 0 10 10 re f",
            ext_gstates={"/Gm": {"SMask": (object(), 0, "luminosity")},
                         "/Gn": {"SMask": None}},
        )
        assert d["softmasks"] == {("fills", 0): "/Gm"}


class TestRotatedShadingOrientation:
    """Round-9: shading patches on /Rotate pages rotate their PIXEL
    CONTENTS into the displayed frame (codecs._displayed_patch) —
    the gradient axis must follow the page, not the canvas."""

    @pytest.mark.parametrize("rotv", [0, 90, 180, 270])
    def test_axial_gradient_follows_page_axis(self, rotv):
        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec
        from pdf2dataset_spark.sources.minipdf import rotate_point

        content = b"q 100 300 200 100 re W n /Sh0 sh Q"
        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 /Rotate "
            + str(rotv).encode() + b" >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /Shading << "
            b"/Sh0 << /ShadingType 2 /Coords [100 0 300 0] "
            b"/Function << /FunctionType 2 /C0 [0.0] /C1 [1.0] "
            b"/N 1 >> /Extend [true true] >> >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
        ])
        codec = PdfCodec()
        h = codec.open(pdf)
        W, H, px = codec._composite_pixels(h, 1)

        def at_page(u, v):
            x, y = rotate_point(u, v, rotv, 612, 792)
            return px[min(H - 1, H - int(y)) * W + min(W - 1, int(x))]

        # the ramp runs along page-u regardless of /Rotate
        assert at_page(102, 350) <= 6
        assert abs(at_page(200, 350) - 128) <= 3
        assert at_page(297, 350) >= 248
        # constant along page-v
        assert abs(at_page(200, 320) - at_page(200, 380)) <= 2


class TestVerticalGlyphs:
    """Round-9: glyph runs follow the DISPLAYED text direction —
    axis-aligned vertical/reverse directions rasterize rotated 5x7
    cells; oblique directions keep the horizontal fallback."""

    @staticmethod
    def _ink_bbox(rotv, content=b"BT /F1 12 Tf 100 700 Td (HELLO) Tj ET"):
        import numpy as np

        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        body = content + b"\n0.5 g 50 50 20 20 re f\n"
        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 /Rotate "
            + str(rotv).encode() + b" >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] >>",
            b"<< /Length " + str(len(body)).encode() + b" >>\nstream\n"
            + body + b"\nendstream",
        ])
        codec = PdfCodec()
        h = codec.open(pdf)
        W, H, px = codec._composite_pixels(h, 1)
        arr = np.frombuffer(bytes(px), np.uint8).reshape(H, W)
        ys, xs = np.where(arr == 0)
        return (ys.max() - ys.min(), xs.max() - xs.min())

    def test_rotated_page_text_rasterizes_vertically(self):
        bb_h, bb_w = self._ink_bbox(90)
        assert bb_h > bb_w  # the run now extends along the column
        bb_h, bb_w = self._ink_bbox(270)
        assert bb_h > bb_w

    def test_unrotated_page_stays_horizontal(self):
        bb_h, bb_w = self._ink_bbox(0)
        assert bb_w > bb_h

    def test_scanner_convention_composes_upright(self):
        # in-plane 90-degree text on a /Rotate 90 page: the two
        # rotations cancel to a horizontal displayed run
        bb_h, bb_w = self._ink_bbox(
            90, content=b"BT 0 1 -1 0 100 300 Tm /F1 12 Tf (HELLO) Tj ET")
        assert bb_w > bb_h


class TestCalculatorShading:
    """Round-9: /ShadingType 1 with /FunctionType 4 calculators and
    function ARRAYS — budgeted lattice evaluation + bilinear
    per-pixel interpolation (codecs._function_patch_generic)."""

    CONTENT = b"q 100 300 200 100 re W n /Sh0 sh Q"

    @classmethod
    def _render(cls, shading, fn_objs):
        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /Shading << "
            b"/Sh0 " + shading + b" >> >> >>",
            b"<< /Length " + str(len(cls.CONTENT)).encode()
            + b" >>\nstream\n" + cls.CONTENT + b"\nendstream",
            *fn_objs,
        ])
        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        if out is None:
            return None
        W, H, px = out
        return lambda x, y: px[(H - y) * W + x]

    @staticmethod
    def _fn4(body, rng=b"[0 1]"):
        return (b"<< /FunctionType 4 /Domain [0 1 0 1] /Range " + rng
                + b" /Length " + str(len(body)).encode()
                + b" >>\nstream\n" + body + b"\nendstream")

    def test_calculator_ramp(self):
        g = self._render(
            b"<< /ShadingType 1 /Domain [0 1 0 1] "
            b"/Matrix [200 0 0 100 100 300] /Function 5 0 R >>",
            [self._fn4(b"{ pop }")])  # gray = x
        assert g is not None
        assert g(101, 350) <= 4
        assert abs(g(200, 350) - 128) <= 2
        assert g(298, 350) >= 250
        assert g(150, 290) == 255  # outside /Domain: transparent

    def test_function_array_luma(self):
        g = self._render(
            b"<< /ShadingType 1 /Domain [0 1 0 1] "
            b"/Matrix [200 0 0 100 100 300] "
            b"/Function [5 0 R 6 0 R 5 0 R] >>",
            [self._fn4(b"{ pop }"), self._fn4(b"{ exch pop }")])
        assert g is not None
        for (x, y) in ((150, 320), (250, 380), (120, 390)):
            u = (x - 100) / 200
            v = (y - 300) / 100
            exp = round((0.413 * u + 0.587 * v) * 255)
            assert abs(g(x, y) - exp) <= 2, (x, y)

    def test_hostile_calculator_declines(self):
        # a program that blows the step budget declines the paint
        body = b"{ " + b"dup 0.5 mul " * 4000 + b"pop pop }"
        g = self._render(
            b"<< /ShadingType 1 /Domain [0 1 0 1] "
            b"/Matrix [200 0 0 100 100 300] /Function 5 0 R >>",
            [self._fn4(body)])
        assert g is None or g(200, 350) == 255


class TestTilingNestedShading:
    """Round-9 follow-up: tiling cells that paint SHADINGS — the sh
    patch rasterizes against the pattern's own /Shading resources in
    cell space and samples per tile."""

    @staticmethod
    def _render(paint_type=1, paint=b"/P1 scn"):
        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        cell = b"q 0 0 10 10 re W n /Shc sh Q"
        content = (b"BT /F1 12 Tf 72 700 Td (shade tile) Tj ET\n"
                   b"/Pattern cs " + paint + b" 100 100 40 30 re f")
        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /Pattern << "
            b"/P1 5 0 R >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            b"<< /PatternType 1 /PaintType "
            + str(paint_type).encode() + b" /TilingType 1 "
            b"/BBox [0 0 10 10] /XStep 10 /YStep 10 "
            b"/Resources << /Shading << /Shc << /ShadingType 2 "
            b"/Coords [0 0 10 0] "
            b"/Function << /FunctionType 2 /C0 [0.0] /C1 [1.0] "
            b"/N 1 >> /Extend [true true] >> >> >> "
            b"/Length " + str(len(cell)).encode() + b" >>\nstream\n"
            + cell + b"\nendstream",
        ])
        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        assert out is not None
        W, H, px = out
        return lambda x, y: px[(H - y) * W + x]

    def test_gradient_repeats_per_tile(self):
        g = self._render()
        assert g(101, 110) <= 45          # tile-local ramp start
        assert abs(g(105, 110) - 140) <= 8
        assert g(109, 110) >= 230
        # the NEXT tile restarts the ramp
        assert abs(g(111, 110) - g(101, 110)) <= 2
        assert g(145, 110) == 255         # outside the fill

    def test_stenciled_cell_shading_declines(self):
        """Round-10 advice fix: a shading painted under a NON-RECT
        clip inside the cell would over-paint its rect-clip bbox —
        the whole pattern declines (never mis-paints), mirroring
        the stenciled nested-pattern-region decline."""
        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        for clip, expect_none in (
            (b"0 0 m 10 0 l 0 10 l h", True),   # triangle: stencil
            (b"0 0 10 10 re", False),           # rect: composites
        ):
            cell = b"q " + clip + b" W n /Shc sh Q"
            content = (b"/Pattern cs /P1 scn 100 100 40 30 re f")
            pdf = _raw_pdf([
                b"<< /Type /Catalog /Pages 2 0 R >>",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
                b"/MediaBox [0 0 612 792] /Resources << /Pattern << "
                b"/P1 5 0 R >> >> >>",
                b"<< /Length " + str(len(content)).encode()
                + b" >>\nstream\n" + content + b"\nendstream",
                b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
                b"/BBox [0 0 10 10] /XStep 10 /YStep 10 "
                b"/Resources << /Shading << /Shc << /ShadingType 2 "
                b"/Coords [0 0 10 0] "
                b"/Function << /FunctionType 2 /C0 [0.0] /C1 [1.0] "
                b"/N 1 >> /Extend [true true] >> >> >> "
                b"/Length " + str(len(cell)).encode()
                + b" >>\nstream\n" + cell + b"\nendstream",
            ])
            codec = PdfCodec()
            doc = codec.open(pdf).doc
            pg = doc.pages()[0]
            res = doc.resolve(pg.get("/Resources"))
            pat = doc.resolve(
                doc.resolve(res.get("/Pattern")).get("/P1"))
            out = codec._tiling_patch(
                doc, pat, (100, 100, 140, 130), (0, 0, 612, 792))
            assert (out is None) == expect_none

    def test_uncolored_cell_stencils_shading_footprint(self):
        # PaintType 2: the shading FOOTPRINT paints in scn gray
        g = self._render(paint_type=2, paint=b"0.2 /P1 scn")
        vals = {g(x, 110) for x in range(101, 139)} - {255}
        assert vals == {51}


class TestObliqueGlyphs:
    """Round-9 follow-up: OBLIQUE text directions rasterize each
    glyph pixel along the rotated frame (nearest device pixel)
    instead of falling back to horizontal."""

    def test_30_degree_text_slopes(self):
        import math

        import numpy as np

        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        c, s_ = math.cos(math.pi / 6), math.sin(math.pi / 6)
        tm = f"{c:.4f} {s_:.4f} {-s_:.4f} {c:.4f} 100 300".encode()
        content = (b"BT " + tm + b" Tm /F1 12 Tf (HELLOHELLO) Tj ET\n"
                   b"0.5 g 50 50 20 20 re f\n")
        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
        ])
        codec = PdfCodec()
        h = codec.open(pdf)
        W, H, px = codec._composite_pixels(h, 1)
        arr = np.frombuffer(bytes(px), np.uint8).reshape(H, W)
        ys, xs = np.where(arr == 0)
        bb_h, bb_w = ys.max() - ys.min(), xs.max() - xs.min()
        # the run rises along 30 degrees: height/width ~ tan30 plus
        # the glyph-height contribution — far from both horizontal
        # (~0.13) and vertical (>1)
        assert 0.4 <= bb_h / bb_w <= 0.85, (bb_h, bb_w)
        # ink sits above the anchor row as the run climbs
        anchor_row = H - 300
        assert ys.min() < anchor_row - 20


class TestPatternInPattern:
    """Round-9 follow-up: pattern nesting — a tiling cell may fill
    with a shading or tiling pattern from its own /Resources.
    Round-10: the recursion carries an explicit depth budget
    (_TILE_NEST_BUDGET = 2), so pattern-in-pattern-in-pattern
    composites and one level deeper declines."""

    @staticmethod
    def _render(objs, content):
        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        pdf = _raw_pdf([
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/MediaBox [0 0 612 792] /Resources << /Pattern << "
            b"/P0 5 0 R >> >> >>",
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream",
            *objs,
        ])
        codec = PdfCodec()
        h = codec.open(pdf)
        out = codec._composite_pixels(h, 1)
        if out is None:
            return None
        W, H, px = out
        return lambda x, y: px[(H - y) * W + x]

    CONTENT = (b"BT /F1 12 Tf 72 700 Td (nested pat) Tj ET\n"
               b"/Pattern cs /P0 scn 100 100 40 30 re f")

    def test_shading_pattern_in_cell(self):
        cell = b"/Pattern cs /Pn scn 1 1 8 8 re f"
        outer = (
            b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
            b"/BBox [0 0 10 10] /XStep 10 /YStep 10 "
            b"/Resources << /Pattern << /Pn << /PatternType 2 "
            b"/Matrix [1 0 0 1 0 0] /Shading << /ShadingType 2 "
            b"/Coords [0 0 10 0] "
            b"/Function << /FunctionType 2 /C0 [0.0] /C1 [1.0] "
            b"/N 1 >> /Extend [true true] >> >> >> >> "
            b"/Length " + str(len(cell)).encode() + b" >>\nstream\n"
            + cell + b"\nendstream")
        g = self._render([outer], self.CONTENT)
        assert g is not None
        assert g(100, 115) == 255   # cell gap (fill starts at 1)
        assert g(102, 115) <= 80    # ramp start
        assert g(108, 115) >= 190   # ramp end
        assert abs(g(112, 115) - g(102, 115)) <= 2  # repeats per tile

    def test_tiling_pattern_in_cell(self):
        cell = b"/Pattern cs 0.2 /Pn scn 0 0 10 10 re f"
        inner = (
            b"<< /PatternType 1 /PaintType 2 /TilingType 1 "
            b"/BBox [0 0 5 5] /XStep 5 /YStep 5 /Resources << >> "
            b"/Length 14 >>\nstream\n0 0 2 5 re f\nendstream")
        outer = (
            b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
            b"/BBox [0 0 10 10] /XStep 10 /YStep 10 "
            b"/Resources << /Pattern << /Pn 6 0 R >> >> "
            b"/Length " + str(len(cell)).encode() + b" >>\nstream\n"
            + cell + b"\nendstream")
        g = self._render([outer, inner], self.CONTENT)
        assert g is not None
        # the inner 5-period stripe (cols 0-1 of each 5) in scn 0.2
        ink = sum(1 for x in range(100, 140) for y in range(100, 130)
                  if g(x, y) == 51)
        assert ink > 300
        assert g(103, 115) == 255  # stripe gap

    def test_depth_two_composites(self):
        """Round-10: pattern-in-pattern-in-pattern (a round-9
        decline) composites — the innermost 2-period stripe
        surfaces through both enclosing cells."""
        cell_mid = b"/Pattern cs /Pq scn 0 0 5 5 re f"
        cell_out = b"/Pattern cs /Pn scn 0 0 10 10 re f"
        inner2 = (
            b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
            b"/BBox [0 0 2 2] /XStep 2 /YStep 2 /Resources << >> "
            b"/Length 13 >>\nstream\n0 0 1 2 re f\nendstream")
        mid = (
            b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
            b"/BBox [0 0 5 5] /XStep 5 /YStep 5 "
            b"/Resources << /Pattern << /Pq 7 0 R >> >> "
            b"/Length " + str(len(cell_mid)).encode()
            + b" >>\nstream\n" + cell_mid + b"\nendstream")
        outer = (
            b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
            b"/BBox [0 0 10 10] /XStep 10 /YStep 10 "
            b"/Resources << /Pattern << /Pn 6 0 R >> >> "
            b"/Length " + str(len(cell_out)).encode()
            + b" >>\nstream\n" + cell_out + b"\nendstream")
        g = self._render([outer, mid, inner2], self.CONTENT)
        assert g is not None
        # innermost stripe: black on u mod 2 in [0,1), white else
        ink = sum(1 for x in range(100, 140) for y in range(100, 130)
                  if g(x, y) == 0)
        white = sum(1 for x in range(100, 140) for y in range(100, 130)
                    if g(x, y) == 255)
        assert ink > 400 and white > 400   # ~half-and-half stripes
        assert ink + white == 40 * 30      # nothing but the stripe

    def test_depth_three_declines(self):
        """One level past _TILE_NEST_BUDGET: the whole paint
        declines (never a half-painted cell); a SELF-referencing
        pattern cycle hits the same budget."""
        cell_out = b"/Pattern cs /Pn scn 0 0 10 10 re f"
        cell_mid = b"/Pattern cs /Pq scn 0 0 5 5 re f"
        cell_in2 = b"/Pattern cs /Pr scn 0 0 4 4 re f"
        inner3 = (
            b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
            b"/BBox [0 0 2 2] /XStep 2 /YStep 2 /Resources << >> "
            b"/Length 13 >>\nstream\n0 0 1 2 re f\nendstream")
        inner2 = (
            b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
            b"/BBox [0 0 4 4] /XStep 4 /YStep 4 "
            b"/Resources << /Pattern << /Pr 8 0 R >> >> "
            b"/Length " + str(len(cell_in2)).encode()
            + b" >>\nstream\n" + cell_in2 + b"\nendstream")
        mid = (
            b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
            b"/BBox [0 0 5 5] /XStep 5 /YStep 5 "
            b"/Resources << /Pattern << /Pq 7 0 R >> >> "
            b"/Length " + str(len(cell_mid)).encode()
            + b" >>\nstream\n" + cell_mid + b"\nendstream")
        outer = (
            b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
            b"/BBox [0 0 10 10] /XStep 10 /YStep 10 "
            b"/Resources << /Pattern << /Pn 6 0 R >> >> "
            b"/Length " + str(len(cell_out)).encode()
            + b" >>\nstream\n" + cell_out + b"\nendstream")
        g = self._render([outer, mid, inner2, inner3], self.CONTENT)
        # declines -> render may be None (no other paint) or the
        # rect stays white
        assert g is None or g(105, 115) == 255
        # self-reference: P0's cell fills with P0 — the cycle is cut
        # by the depth budget, the paint declines, never recurses
        cell_self = b"/Pattern cs /Pn scn 0 0 10 10 re f"
        selfpat = (
            b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
            b"/BBox [0 0 10 10] /XStep 10 /YStep 10 "
            b"/Resources << /Pattern << /Pn 5 0 R >> >> "
            b"/Length " + str(len(cell_self)).encode()
            + b" >>\nstream\n" + cell_self + b"\nendstream")
        g2 = self._render([selfpat], self.CONTENT)
        assert g2 is None or g2(105, 115) == 255
