"""JBIG2 (ITU-T T.88) codec tests — MQ coder, generic regions,
symbol/text regions, segment grammar, and the minipdf integration.

No Spark: pure-codec coverage (the Spark-side extraction path is
pinned by the a25_jbig2_scan_extract golden oracle)."""

import random
import struct

import pytest

from pdf2dataset_spark.sources import minipdf
from pdf2dataset_spark.sources.jbig2 import (
    _OOB,
    IntCoderCx,
    JBIG2Error,
    JBIG2Unsupported,
    MQDecoder,
    MQEncoder,
    _iaid_cx,
    _iaid_decode,
    _iaid_encode,
    _int_decode,
    _int_encode,
    _segment_header,
    SEG_PAGE_INFO,
    SEG_SYMBOL_DICT,
    decode_embedded,
    decode_generic,
    decode_jbig2_gray,
    decode_refinement,
    encode_generic,
    encode_generic_page,
    encode_refagg_page,
    encode_refinement,
    encode_halftone_page,
    encode_text_page,
    parse_segments,
)


def _rand_bitmap(rng, w, h, p):
    return [
        bytearray(1 if rng.random() < p else 0 for _ in range(w))
        for _ in range(h)
    ]


class TestMQCoder:
    # T.88 Annex H.2 / ISO 15444-1 MQ test sequence (single context,
    # initial state I=0 MPS=0). The published code stream's first 16
    # bytes are pinned; the tail differs only in legal flush freedom,
    # so the rest is pinned by exact decode-back of our own stream.
    H2_INPUT = bytes.fromhex(
        "00020051000000C00352872AAAAAAAAA82C02000FCD79EF674EAABF7697EE74A"
    )
    H2_PREFIX = bytes.fromhex("84C73BFCE1A1430402200000410DBB86")

    def test_h2_sequence_prefix_and_roundtrip(self):
        bits = [(b >> (7 - i)) & 1 for b in self.H2_INPUT for i in range(8)]
        enc = MQEncoder()
        cx = [0, 0]
        for b in bits:
            enc.encode(b, cx)
        out = enc.flush()
        assert out[: len(self.H2_PREFIX)] == self.H2_PREFIX
        dec = MQDecoder(out)
        cx = [0, 0]
        assert [dec.decode(cx) for _ in bits] == bits

    def test_random_roundtrips_multi_context(self):
        rng = random.Random(7)
        for _ in range(25):
            n = rng.randrange(1, 1500)
            ncx = rng.randrange(1, 8)
            bits = [rng.getrandbits(1) for _ in range(n)]
            which = [rng.randrange(ncx) for _ in range(n)]
            enc = MQEncoder()
            ecx = [[0, 0] for _ in range(ncx)]
            for b, w in zip(bits, which):
                enc.encode(b, ecx[w])
            dec = MQDecoder(enc.flush())
            dcx = [[0, 0] for _ in range(ncx)]
            assert [dec.decode(dcx[w]) for w in which] == bits

    def test_skewed_streams_compress(self):
        # 10k near-constant bits must code far below 1 bit/symbol
        enc = MQEncoder()
        cx = [0, 0]
        rng = random.Random(1)
        bits = [1 if rng.random() < 0.02 else 0 for _ in range(10_000)]
        for b in bits:
            enc.encode(b, cx)
        out = enc.flush()
        assert len(out) < 10_000 // 32
        dec = MQDecoder(out)
        cx = [0, 0]
        assert [dec.decode(cx) for _ in bits] == bits


class TestIntCoders:
    def test_int_roundtrip_all_buckets_and_oob(self):
        vals = [0, 1, -1, 3, 4, 19, 20, 83, 84, 339, 340, 4435, 4436,
                99_999, -4436, -340, _OOB, 7, _OOB, -2, 123_456_789]
        enc = MQEncoder()
        bank = IntCoderCx()
        for v in vals:
            _int_encode(enc, bank, v)
        dec = MQDecoder(enc.flush())
        bank2 = IntCoderCx()
        got = [_int_decode(dec, bank2) for _ in vals]
        for a, b in zip(vals, got):
            assert (a is _OOB and b is _OOB) or a == b

    def test_iaid_roundtrip(self):
        for codelen in (1, 2, 5):
            ids = list(range(1 << codelen)) * 2
            enc = MQEncoder()
            cx = _iaid_cx(codelen)
            for i in ids:
                _iaid_encode(enc, cx, codelen, i)
            dec = MQDecoder(enc.flush())
            cx = _iaid_cx(codelen)
            assert [_iaid_decode(dec, cx, codelen) for _ in ids] == ids


class TestGenericRegion:
    @pytest.mark.parametrize("template", [0, 1, 2, 3])
    @pytest.mark.parametrize("tpgdon", [False, True])
    def test_roundtrip_templates(self, template, tpgdon):
        rng = random.Random(template * 10 + tpgdon)
        for (w, h, p) in [(1, 1, 0.5), (7, 3, 0.3), (33, 17, 0.5),
                          (64, 20, 0.05), (13, 40, 0.95)]:
            bm = _rand_bitmap(rng, w, h, p)
            if tpgdon and h > 4:  # force typical (repeated) rows
                bm[2] = bytearray(bm[1])
                bm[3] = bytearray(bm[2])
            enc = MQEncoder()
            encode_generic(enc, {}, bm, template, None, tpgdon)
            out = decode_generic(
                MQDecoder(enc.flush()), {}, w, h, template, None, tpgdon
            )
            assert [bytes(r) for r in out] == [bytes(r) for r in bm]

    def test_custom_at_pixels(self):
        rng = random.Random(5)
        at = [(1, -1), (-2, -1), (2, -2), (-3, -2)]
        bm = _rand_bitmap(rng, 40, 25, 0.4)
        enc = MQEncoder()
        encode_generic(enc, {}, bm, 0, at)
        out = decode_generic(MQDecoder(enc.flush()), {}, 40, 25, 0, at)
        assert [bytes(r) for r in out] == [bytes(r) for r in bm]

    @pytest.mark.parametrize("template", [0, 1, 2, 3])
    def test_fast_path_equals_general_walk(self, template):
        # nominal AT takes the sliding-window fast path; nudging ONE
        # AT pixel forces the general template walk on the SAME
        # stream geometry class — both must decode the encoder's
        # (general-walk) output exactly, across tpgdon settings
        from pdf2dataset_spark.sources.jbig2 import NOMINAL_AT

        rng = random.Random(60 + template)
        # 37 px rows take the scalar row slide, 150 px the numpy one
        for width, tpgdon in ((37, False), (37, True), (150, False),
                              (150, True)):
            bm = _rand_bitmap(rng, width, 23, 0.35)
            bm[5] = bytearray(bm[4])  # a typical row for tpgdon
            enc = MQEncoder()
            encode_generic(enc, {}, bm, template, None, tpgdon)
            data = enc.flush()
            fast = decode_generic(
                MQDecoder(data), {}, width, 23, template, None, tpgdon
            )
            assert [bytes(r) for r in fast] == [bytes(r) for r in bm]
            # same nominal AT passed explicitly still hits fast path
            fast2 = decode_generic(
                MQDecoder(data), {}, width, 23, template,
                NOMINAL_AT[template], tpgdon,
            )
            assert fast2 == fast

    def test_non_causal_at_rejected(self):
        with pytest.raises(JBIG2Error):
            decode_generic(MQDecoder(b""), {}, 4, 4, 0,
                           [(1, 0), (-3, -1), (2, -2), (-2, -2)])


class TestEmbeddedStream:
    def test_generic_page_roundtrip(self):
        rng = random.Random(3)
        bm = _rand_bitmap(rng, 50, 30, 0.2)
        stream = encode_generic_page(bm, template=0, tpgdon=True)
        w, h, rows = decode_embedded(stream)
        assert (w, h) == (50, 30)
        assert [bytes(r) for r in rows] == [bytes(r) for r in bm]
        w, h, px = decode_jbig2_gray(stream)
        assert px[:2] == bytes(
            0 if v else 255 for v in (bm[0][0], bm[0][1])
        )

    def test_mmr_page_roundtrip(self):
        rng = random.Random(4)
        bm = _rand_bitmap(rng, 61, 24, 0.3)
        stream = encode_generic_page(bm, mmr=True)
        w, h, rows = decode_embedded(stream)
        assert (w, h) == (61, 24)
        assert [bytes(r) for r in rows] == [bytes(r) for r in bm]

    def _glyphs(self):
        a = [bytearray([1, 1, 1, 1]), bytearray([1, 0, 0, 1]),
             bytearray([1, 1, 1, 1])]
        b = [bytearray([0, 1, 0]), bytearray([1, 1, 1]),
             bytearray([0, 1, 0]), bytearray([1, 0, 1])]
        return a, b

    def _expected(self, glyphs, placements, w, h):
        exp = [bytearray(w) for _ in range(h)]
        for si, x, y in placements:
            for dy, r in enumerate(glyphs[si]):
                for dx, v in enumerate(r):
                    exp[y + dy][x + dx] |= v
        return [bytes(r) for r in exp]

    def test_symbol_text_page(self):
        a, b = self._glyphs()
        pl = [(0, 2, 1), (1, 10, 1), (0, 20, 6), (1, 3, 10), (1, 30, 12)]
        data, g = encode_text_page([a, b], pl, 40, 18)
        assert g is None
        w, h, rows = decode_embedded(data)
        assert [bytes(r) for r in rows] == self._expected([a, b], pl, 40, 18)

    def test_symbol_dict_in_globals(self):
        a, b = self._glyphs()
        pl = [(0, 2, 1), (1, 10, 4)]
        data, g = encode_text_page([a, b], pl, 30, 12, split_globals=True)
        assert g is not None
        w, h, rows = decode_embedded(data, g)
        assert [bytes(r) for r in rows] == self._expected([a, b], pl, 30, 12)
        # without the globals the text region has no symbols: named error
        with pytest.raises(JBIG2Error):
            decode_embedded(data)

    def test_segment_grammar_errors(self):
        with pytest.raises(JBIG2Error):
            parse_segments(b"\x00\x01\x02")  # truncated header
        hdr = _segment_header(0, SEG_PAGE_INFO, 1, 100)  # overruns
        with pytest.raises(JBIG2Error):
            parse_segments(hdr + b"\x00" * 10)

    def test_huffman_symbol_dict_named_unsupported(self):
        page_info = (struct.pack(">IIII", 8, 8, 0, 0) + bytes([0])
                     + struct.pack(">H", 0))
        # SDHUFF+SDREFAGG now DECODES (round 8, §6.5.8.2): a
        # grammar-valid dictionary with the flags but a TRUNCATED
        # body fails as malformed, not unsupported
        sd = struct.pack(">H", 3)  # SDHUFF=1, SDREFAGG=1
        stream = (
            _segment_header(0, SEG_PAGE_INFO, 1, len(page_info)) + page_info
            + _segment_header(1, SEG_SYMBOL_DICT, 1, len(sd)) + sd
        )
        with pytest.raises(JBIG2Error):
            decode_embedded(stream)
        sd = struct.pack(">H", 1)  # SDHUFF=1, truncated body
        stream = (
            _segment_header(0, SEG_PAGE_INFO, 1, len(page_info)) + page_info
            + _segment_header(1, SEG_SYMBOL_DICT, 1, len(sd)) + sd
        )
        with pytest.raises(JBIG2Error):
            decode_embedded(stream)


def _flip_some(rng, bm, n):
    out = [bytearray(r) for r in bm]
    for _ in range(n):
        y = rng.randrange(len(out))
        x = rng.randrange(len(out[0]))
        out[y][x] ^= 1
    return out


class TestRefinement:
    @pytest.mark.parametrize("template", [0, 1])
    @pytest.mark.parametrize("tpgron", [False, True])
    def test_roundtrip_templates_offsets(self, template, tpgron):
        rng = random.Random(100 + template * 2 + tpgron)
        for (w, h) in [(1, 1), (9, 5), (24, 17), (40, 8)]:
            ref = _rand_bitmap(rng, w, h, 0.4)
            bm = _flip_some(rng, ref, max(1, w * h // 20))
            for dx, dy in [(0, 0), (2, -1), (-3, 2)]:
                enc = MQEncoder()
                encode_refinement(enc, {}, bm, ref, dx, dy, template,
                                  None, tpgron)
                out = decode_refinement(
                    MQDecoder(enc.flush()), {}, w, h, ref, dx, dy,
                    template, None, tpgron,
                )
                assert [bytes(r) for r in out] == [bytes(r) for r in bm]

    def test_grown_bitmap_against_smaller_reference(self):
        rng = random.Random(9)
        ref = _rand_bitmap(rng, 10, 6, 0.5)
        bm = _rand_bitmap(rng, 13, 8, 0.5)
        enc = MQEncoder()
        encode_refinement(enc, {}, bm, ref, 1, 1, 0, None)
        out = decode_refinement(
            MQDecoder(enc.flush()), {}, 13, 8, ref, 1, 1, 0, None
        )
        assert [bytes(r) for r in out] == [bytes(r) for r in bm]

    def test_tpgron_ltp_rows_engage_and_roundtrip(self):
        # a smooth bitmap coded against itself has fully-typical rows
        # (uniform 3x3 reference neighbourhoods): the encoder turns
        # LTP on for them, so the decoder's typical-pixel copy path is
        # really exercised — and the stream must still round-trip,
        # including the noisy rows where LTP toggles back off
        from pdf2dataset_spark.sources.jbig2 import _gr_typical

        rng = random.Random(6)
        ref = [bytearray(64) for _ in range(64)]
        for y in range(20, 44):
            for x in range(20, 44):
                ref[y][x] = 1
        bm = [bytearray(r) for r in ref]
        for _ in range(10):  # sprinkle non-typical rows
            bm[rng.randrange(64)][rng.randrange(64)] ^= 1
        typical_rows = sum(
            1
            for y in range(64)
            if all(
                _gr_typical(bm, x, y, 0, 0) == bm[y][x] for x in range(64)
            )
        )
        assert typical_rows > 20  # the LTP path genuinely engages
        enc = MQEncoder()
        encode_refinement(enc, {}, bm, bm, 0, 0, 0, None, True)
        out = decode_refinement(
            MQDecoder(enc.flush()), {}, 64, 64, bm, 0, 0, 0, None, True
        )
        assert [bytes(r) for r in out] == [bytes(r) for r in bm]

    def test_refined_text_region_instances(self):
        rng = random.Random(21)
        a = _rand_bitmap(rng, 5, 4, 0.5)
        b = _rand_bitmap(rng, 3, 3, 0.5)
        a2 = _flip_some(rng, a, 2)  # same-size refinement
        b2 = [bytearray(r) + bytearray([1]) for r in b] + [
            bytearray([1] * 4)
        ]  # grown refinement
        pl = [(0, 2, 1, None), (0, 10, 1, a2), (1, 20, 2, None),
              (1, 28, 7, b2)]
        data, _ = encode_text_page([a, b], pl, 40, 14)
        _, _, rows = decode_embedded(data)
        exp = [bytearray(40) for _ in range(14)]
        for si, x, y, rb in pl:
            bmp = rb if rb is not None else [a, b][si]
            for dy, r in enumerate(bmp):
                for dx, v in enumerate(r):
                    exp[y + dy][x + dx] |= v
        assert [bytes(r) for r in rows] == [bytes(r) for r in exp]

    def test_refagg_symbol_dictionary(self):
        rng = random.Random(30)
        base = [_rand_bitmap(rng, 6, 5, 0.5), _rand_bitmap(rng, 4, 4, 0.5)]
        variants = [(0, _flip_some(rng, base[0], 3)),
                    (1, _flip_some(rng, base[1], 2))]
        pl = [(0, 1, 1), (2, 10, 1), (1, 20, 3), (3, 28, 6)]
        data = encode_refagg_page(base, variants, pl, 40, 14)
        _, _, rows = decode_embedded(data)
        pool = base + [v[1] for v in variants]
        exp = [bytearray(40) for _ in range(14)]
        for si, x, y in pl:
            for dy, r in enumerate(pool[si]):
                for dx, v in enumerate(r):
                    exp[y + dy][x + dx] |= v
        assert [bytes(r) for r in rows] == [bytes(r) for r in exp]


class TestHalftone:
    def _patterns(self, n, size=6):
        # density ramp: pattern k has k+1 pixels set along a diagonal
        pats = []
        for k in range(n):
            p = [bytearray(size) for _ in range(size)]
            for i in range(k + 1):
                p[i % size][(i * 3) % size] = 1
            pats.append(p)
        return pats

    def _expected(self, pats, vals, size=6):
        hgh, hgw = len(vals), len(vals[0])
        exp = [bytearray(hgw * size) for _ in range(hgh * size)]
        for m in range(hgh):
            for n in range(hgw):
                p = pats[vals[m][n]]
                for dy in range(size):
                    for dx in range(size):
                        exp[m * size + dy][n * size + dx] |= p[dy][dx]
        return [bytes(r) for r in exp]

    @pytest.mark.parametrize("npat", [1, 2, 4, 5, 8])
    def test_roundtrip_gray_coded_planes(self, npat):
        # npat=5 exercises a non-power-of-two GRAYMAX (3 planes with
        # clamping never hit); npat=1 is the zero-plane edge
        rng = random.Random(70 + npat)
        pats = self._patterns(npat)
        vals = [[rng.randrange(npat) for _ in range(9)] for _ in range(7)]
        stream = encode_halftone_page(pats, vals)
        w, h, rows = decode_embedded(stream)
        assert (w, h) == (54, 42)
        assert [bytes(r) for r in rows] == self._expected(pats, vals)

    def test_grid_offset_placement(self):
        pats = self._patterns(2)
        vals = [[1, 0], [0, 1]]
        # offset the grid by (+2, +3) pixels (8.8 fixed point)
        stream = encode_halftone_page(pats, vals, hgx=2 << 8, hgy=3 << 8)
        w, h, rows = decode_embedded(stream)
        base = self._expected(pats, vals)
        exp = [bytearray(w) for _ in range(h)]
        for y, brow in enumerate(base):
            for x, v in enumerate(brow):
                if v and y + 3 < h and x + 2 < w:
                    exp[y + 3][x + 2] = 1
        assert [bytes(r) for r in rows] == [bytes(r) for r in exp]

    def test_hskip_noop_when_grid_inside(self):
        # HSKIP decodes since round 5; with the grid fully inside
        # the region the computed skip plane is empty, so flipping
        # ENABLESKIP on an origin-anchored stream is a no-op
        pats = self._patterns(2)
        stream = bytearray(encode_halftone_page(pats, [[0, 1]]))
        ref = decode_embedded(bytes(stream))
        at = stream.rindex(struct.pack(">II", 12, 6))  # region w=12 h=6
        stream[at + 17] |= 8
        got = decode_embedded(bytes(stream))
        assert got[2] == ref[2]


class TestMinipdfIntegration:
    def test_page_images_decodes_generic_xobject(self):
        rng = random.Random(11)
        w, h = 48, 20
        bm = _rand_bitmap(rng, w, h, 0.25)
        px = bytes(0 if v else 255 for r in bm for v in r)
        stream = encode_generic_page(bm, template=0, tpgdon=True)
        pdf = minipdf.build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": w, "height": h,
                     "data": stream, "bits": 1}],
        )
        doc = minipdf.PdfDocument(pdf)
        (entry,) = doc.page_images(doc.pages()[0], decode_pixels=True)
        assert entry["format"] == "jbig2"
        assert entry["decodable"] is True
        assert entry["data"] == stream  # compressed payload surfaced
        assert entry["pixels"] == px

    def test_jbig2_globals_stream_resolved(self):
        a = [bytearray([1, 1]), bytearray([1, 1])]
        b = [bytearray([1, 0, 1])]
        pl = [(0, 1, 1), (1, 5, 2)]
        data, g = encode_text_page([a, b], pl, 12, 6, split_globals=True)
        pdf = minipdf.build_pdf(
            ["with text"],
            images=[{"filter": "/JBIG2Decode", "width": 12, "height": 6,
                     "data": data, "globals": g, "bits": 1}],
        )
        doc = minipdf.PdfDocument(pdf)
        (entry,) = doc.page_images(doc.pages()[0], decode_pixels=True)
        assert entry["decodable"] is True
        assert entry["jbig2_globals"] == g
        exp = [bytearray(12) for _ in range(6)]
        for si, x, y in pl:
            for dy, r in enumerate([a, b][si]):
                for dx, v in enumerate(r):
                    exp[y + dy][x + dx] |= v
        assert entry["pixels"] == bytes(
            0 if v else 255 for r in exp for v in r
        )

    def test_garbage_stream_honestly_undecodable(self):
        pdf = minipdf.build_pdf(
            [""],
            images=[{"filter": "/JBIG2Decode", "width": 8, "height": 8,
                     "data": b"\x01\x02\x03", "bits": 1}],
        )
        (entry,) = minipdf.extract_page_images(pdf)[0]
        assert entry["format"] == "jbig2"
        assert entry["decodable"] is False
        assert entry["data"] == b"\x01\x02\x03"

    def test_scanned_page_ocr_roundtrip(self):
        from pdf2dataset_spark.sources import raster
        from pdf2dataset_spark.sources.codecs import PdfCodec

        text = "JBIG2 OCR OK"
        w, h, px = raster._rasterize(text)
        bm = [
            bytearray(1 if px[y * w + x] < 128 else 0 for x in range(w))
            for y in range(h)
        ]
        for kwargs in ({"template": 2}, {"mmr": True}):
            stream = encode_generic_page(bm, **kwargs)
            pdf = minipdf.build_pdf(
                [""],
                images=[{"filter": "/JBIG2Decode", "width": w, "height": h,
                         "data": stream, "bits": 1}],
            )
            codec = PdfCodec()
            handle = codec.open(pdf)
            assert codec.page_text(handle, 1) == ""
            assert codec.page_ocr(handle, 1) == text


class TestUnknownLengthSegments:
    def test_unknown_length_generic_region_decodes(self):
        from pdf2dataset_spark.sources import jbig2

        # §7.2.7: unknown length is legal for immediate generic
        # regions; in PDF embedding the stream length bounds it, so
        # the segment extends to the end of the data
        rng = random.Random(55)
        bm = [bytearray(1 if rng.random() < 0.4 else 0
                        for _ in range(30)) for _ in range(20)]
        full = jbig2.encode_generic_page(bm)
        segs = jbig2.parse_segments(full)
        out = bytearray()
        for seg in segs:
            hdr = jbig2._segment_header(
                seg.number, seg.type, seg.page, len(seg.data),
                refs=tuple(seg.refs),
            )
            if seg.type in (jbig2.SEG_GENERIC_IMMEDIATE,
                            jbig2.SEG_GENERIC_IMMEDIATE_LOSSLESS):
                hdr = hdr[:-4] + b"\xff\xff\xff\xff"
            out += hdr + seg.data
        w, h, rows = jbig2.decode_embedded(bytes(out))
        assert [bytes(r) for r in rows] == [bytes(r) for r in bm]

    def test_unknown_length_on_other_segments_rejected(self):
        from pdf2dataset_spark.sources import jbig2

        page_info = (struct.pack(">IIII", 8, 8, 0, 0) + bytes([0])
                     + struct.pack(">H", 0))
        hdr = jbig2._segment_header(0, jbig2.SEG_PAGE_INFO, 1, 0)
        hdr = hdr[:-4] + b"\xff\xff\xff\xff"
        with pytest.raises(JBIG2Error):
            jbig2.decode_embedded(hdr + page_info)


class TestRefinementRegionSegments:
    """Standalone refinement region segments (T.88 §7.4.7, types
    40/42/43) — the lossy-then-lossless progressive shape. The
    decoder must refine against a referred retained INTERMEDIATE
    region when present, else against the PAGE BUFFER with REPLACE
    composition (§8.2) — OR-composition would be unable to clear
    pixels, which the fixtures exercise both ways."""

    @staticmethod
    def _bitmaps(seed: int, w: int = 90, h: int = 40, flips: int = 60):
        import random

        rng = random.Random(seed)
        base = [bytearray(int(rng.random() < 0.3) for _ in range(w))
                for _ in range(h)]
        refined = [bytearray(r) for r in base]
        for _ in range(flips):
            refined[rng.randrange(h)][rng.randrange(w)] ^= 1
        return base, refined

    @pytest.mark.parametrize("template", [0, 1])
    @pytest.mark.parametrize("tpgron", [False, True])
    def test_page_buffer_reference_replaces(self, template, tpgron):
        from pdf2dataset_spark.sources.jbig2 import (
            decode_embedded, encode_refinement_page,
        )

        base, refined = self._bitmaps(template * 2 + tpgron)
        data = encode_refinement_page(base, refined, template=template,
                                      tpgron=tpgron)
        w, h, rows = decode_embedded(data)
        assert [bytes(r) for r in rows] == [bytes(r) for r in refined]
        # the refinement really cleared at least one base pixel
        assert any(
            b[i] and not r[i]
            for b, r in zip(base, refined) for i in range(len(b))
        )

    def test_intermediate_region_reference(self):
        from pdf2dataset_spark.sources.jbig2 import (
            decode_embedded, encode_refinement_page,
        )

        base, refined = self._bitmaps(7)
        data = encode_refinement_page(base, refined, intermediate=True)
        w, h, rows = decode_embedded(data)
        assert [bytes(r) for r in rows] == [bytes(r) for r in refined]

    def test_intermediate_regions_not_composited(self):
        """A retained type-36 region alone must leave the page
        blank (§8.2) — it only exists for later references."""
        import struct as _s

        from pdf2dataset_spark.sources import jbig2

        base = [bytearray([1] * 8) for _ in range(8)]
        region = bytearray(_s.pack(">IIII", 8, 8, 0, 0))
        region.append(0)
        enc = jbig2.MQEncoder()
        jbig2.encode_generic(enc, {}, base, 0, None, False)
        region.append(0)
        for ax, ay in jbig2.NOMINAL_AT[0]:
            region += _s.pack(">bb", ax, ay)
        region += enc.flush()
        page_info = (_s.pack(">IIII", 8, 8, 0, 0) + bytes([0])
                     + _s.pack(">H", 0))
        out = bytearray()
        out += jbig2._segment_header(0, jbig2.SEG_PAGE_INFO, 1,
                                     len(page_info))
        out += page_info
        out += jbig2._segment_header(1, jbig2.SEG_GENERIC_INTERMEDIATE,
                                     1, len(region))
        out += region
        w, h, rows = jbig2.decode_embedded(bytes(out))
        assert all(not any(r) for r in rows)

    def test_mismatched_bitmaps_rejected(self):
        from pdf2dataset_spark.sources.jbig2 import (
            JBIG2Error, encode_refinement_page,
        )

        with pytest.raises(JBIG2Error):
            encode_refinement_page([bytearray(4)], [bytearray(5)])


class TestAggregateSymbols:
    """TRUE AGGREGATE symbol coding (T.88 §6.5.8.2.2,
    REFAGGNINST > 1): a dictionary symbol decoded as a nested text
    region compositing other pool symbols. Expected pages are built
    by an INDEPENDENT compositor (OR-blit of the declared instance
    placements), not by the codec."""

    A = [bytearray([1, 1, 1]), bytearray([1, 0, 1]),
         bytearray([1, 1, 1])]
    B = [bytearray([0, 1, 0]), bytearray([1, 1, 1]),
         bytearray([0, 1, 0])]

    def _expected(self, aggregates, placements, w, h):
        from pdf2dataset_spark.sources.jbig2 import _blit

        bases = [self.A, self.B]

        def agg_bm(spec):
            aw, ah, inst = spec
            bm = [bytearray(aw) for _ in range(ah)]
            for bi, px, py in inst:
                _blit(bm, bases[bi], px, py, 0)
            return bm

        syms = bases + [agg_bm(s) for s in aggregates]
        page = [bytearray(w) for _ in range(h)]
        for si, x, y in placements:
            _blit(page, syms[si], x, y, 0)
        return page

    def test_multi_instance_aggregates_roundtrip(self):
        from pdf2dataset_spark.sources.jbig2 import (
            decode_embedded, encode_aggregate_page,
        )

        agg = (9, 6, [(0, 0, 0), (1, 4, 1), (0, 6, 2)])   # ninst 3
        agg2 = (7, 4, [(1, 0, 0), (1, 4, 1)])             # ninst 2
        placements = [(0, 1, 1), (2, 10, 2), (3, 22, 3), (1, 34, 1)]
        data = encode_aggregate_page([self.A, self.B], [agg, agg2],
                                     placements, 44, 12)
        w, h, rows = decode_embedded(data)
        exp = self._expected([agg, agg2], placements, 44, 12)
        assert [bytes(r) for r in rows] == [bytes(r) for r in exp]

    def test_aggregate_contexts_persist_across_symbols(self):
        """Two aggregates in ONE height class: the second decodes
        with context banks warmed by the first — a fresh-banks
        decoder would desynchronize the MQ stream."""
        from pdf2dataset_spark.sources.jbig2 import (
            decode_embedded, encode_aggregate_page,
        )

        agg = (9, 6, [(0, 0, 0), (1, 4, 1)])
        agg2 = (12, 6, [(1, 0, 0), (0, 4, 1), (1, 8, 2)])
        placements = [(2, 1, 1), (3, 14, 2)]
        data = encode_aggregate_page([self.A, self.B], [agg, agg2],
                                     placements, 30, 12)
        w, h, rows = decode_embedded(data)
        exp = self._expected([agg, agg2], placements, 30, 12)
        assert [bytes(r) for r in rows] == [bytes(r) for r in exp]

    def test_single_instance_aggregate_rejected_by_encoder(self):
        from pdf2dataset_spark.sources.jbig2 import (
            JBIG2Error, encode_aggregate_page,
        )

        with pytest.raises(JBIG2Error):
            encode_aggregate_page([self.A], [(5, 3, [(0, 0, 0)])],
                                  [(0, 0, 0)], 8, 8)


class TestHalftoneSkip:
    """HSKIP (T.88 §6.6.5.1): halftone grid cells whose stamped
    pattern lies entirely outside the region are NEVER coded in the
    grayscale bitplanes — a decoder ignoring the skip plane
    desynchronizes the MQ stream immediately."""

    @staticmethod
    def _fixture():
        pats = []
        for k in range(4):
            pats.append([
                bytearray(1 if (i + j + k) % 4 < k else 0
                          for i in range(7))
                for j in range(7)
            ])
        vals = [[(m * 5 + n * 3) % 4 for n in range(8)]
                for m in range(6)]
        return pats, vals

    def test_skip_roundtrip_against_replica(self):
        from pdf2dataset_spark.sources.jbig2 import (
            _blit, decode_embedded, encode_halftone_page,
        )

        pats, vals = self._fixture()
        data = encode_halftone_page(pats, vals, hgx=-7 * 256,
                                    hgy=-7 * 256, enable_skip=True)
        w, h, rows = decode_embedded(data)
        exp = [bytearray(w) for _ in range(h)]
        for m in range(6):
            for n in range(8):
                px = (-7 * 256 + n * (7 << 8)) >> 8
                py = (-7 * 256 + m * (7 << 8)) >> 8
                out = (px + 7 <= 0 or px >= w
                       or py + 7 <= 0 or py >= h)
                _blit(exp, pats[0 if out else vals[m][n]], px, py, 0)
        assert [bytes(r) for r in rows] == [bytes(r) for r in exp]

    def test_skip_plane_is_load_bearing(self):
        """The HSKIP stream must really omit skipped cells: clearing
        the HENABLESKIP flag on the same payload makes the decode
        diverge (or fail) — proving bits were genuinely not coded."""
        from pdf2dataset_spark.sources.jbig2 import (
            JBIG2Error, decode_embedded, encode_halftone_page,
        )

        pats, vals = self._fixture()
        data = bytearray(
            encode_halftone_page(pats, vals, hgx=-7 * 256,
                                 hgy=-7 * 256, enable_skip=True)
        )
        ref = decode_embedded(bytes(data))
        flag_at = data.rindex(b"\x08")  # HENABLESKIP flags byte
        data[flag_at] = 0
        try:
            got = decode_embedded(bytes(data))
            assert got[2] != ref[2]
        except JBIG2Error:
            pass  # desync surfacing as a named error is equally fine

    def test_mmr_skip_is_legal_noop(self):
        """HENABLESKIP on an MMR-grayscale halftone region is a
        legal no-op (C.5: skip only affects arithmetic coding) —
        the stream must DECODE, not decline."""
        import struct as _s

        from pdf2dataset_spark.sources import jbig2

        pats, vals = self._fixture()
        base = bytearray(jbig2.encode_halftone_page(pats, vals))
        ref = jbig2.decode_embedded(bytes(base))
        hdr_at = base.rindex(_s.pack(">I", 2) + bytes([23]))
        # header: number(4) type(1) refcount(1) ref(1) page(1) len(4)
        flags_at = hdr_at + 12 + 17
        assert base[flags_at] == 0  # arithmetic, no skip
        base[flags_at] |= 8  # HENABLESKIP alone: grid inside -> noop
        got = jbig2.decode_embedded(bytes(base))
        assert got[2] == ref[2]


class TestRefinementFastPath:
    """The nominal-AT refinement fast path (_decode_refinement_fast)
    must make the exact coding decisions of the reference per-pixel
    template walk — same pixels, same MQ register state afterwards
    (the stream continues past a refinement in symbol dictionaries)."""

    @staticmethod
    def _reference_decode(dec, cx, width, height, ref, dx, dy,
                          template, tpgron):
        from pdf2dataset_spark.sources import jbig2

        coding, reference = jbig2._gr_templates(template, None)
        sltp_cx = jbig2._GR_SLTP_CX[template]
        rows = []
        ltp = 0
        for y in range(height):
            if tpgron:
                state = cx.setdefault(sltp_cx, [0, 0])
                ltp ^= dec.decode(state)
            row = bytearray(width)
            rows.append(row)
            for x in range(width):
                if ltp:
                    typ = jbig2._gr_typical(ref, x, y, dx, dy)
                    if typ is not None:
                        row[x] = typ
                        continue
                c = jbig2._gr_context(
                    rows, ref, x, y, dx, dy, coding, reference
                )
                state = cx.setdefault(c, [0, 0])
                row[x] = dec.decode(state)
        return rows

    @pytest.mark.parametrize("template", [0, 1])
    @pytest.mark.parametrize("tpgron", [False, True])
    def test_fast_matches_reference_walk(self, template, tpgron):
        import random

        from pdf2dataset_spark.sources import jbig2

        rng = random.Random(1107 + template + 2 * tpgron)
        for trial in range(8):
            w = rng.choice([32, 45, 64])
            h = rng.randint(4, 24)
            dx, dy = rng.randint(-3, 3), rng.randint(-3, 3)
            rw, rh = max(1, w + rng.randint(-5, 5)), max(
                1, h + rng.randint(-4, 4)
            )
            ref = [
                bytearray(rng.getrandbits(1) for _ in range(rw))
                for _ in range(rh)
            ]
            target = [
                bytearray(
                    (ref[y][x] if y < rh and x < rw else 0)
                    for x in range(w)
                )
                for y in range(h)
            ]
            for _ in range(w * h // 10):
                target[rng.randrange(h)][rng.randrange(w)] ^= 1
            enc = jbig2.MQEncoder()
            jbig2.encode_refinement(
                enc, {}, target, ref, dx, dy, template, None, tpgron
            )
            data = enc.flush()
            d1 = jbig2.MQDecoder(data)
            fast = jbig2.decode_refinement(
                d1, {}, w, h, ref, dx, dy, template, None, tpgron
            )
            d2 = jbig2.MQDecoder(data)
            slow = self._reference_decode(
                d2, {}, w, h, ref, dx, dy, template, tpgron
            )
            assert [bytes(r) for r in fast] == [bytes(r) for r in slow]
            assert [bytes(r) for r in fast] == [
                bytes(r) for r in target
            ]
            assert (d1.bp, d1.c, d1.ct, d1.a) == (
                d2.bp, d2.c, d2.ct, d2.a,
            )

    def test_narrow_bitmaps_keep_reference_walk(self):
        """Symbol-refinement-sized bitmaps (< 32 px) stay on the
        general path (numpy per-row overhead loses there)."""
        from pdf2dataset_spark.sources import jbig2

        ref = [bytearray([1, 0, 1, 0, 1]) for _ in range(5)]
        target = [bytearray(r) for r in ref]
        target[2][2] ^= 1
        enc = jbig2.MQEncoder()
        jbig2.encode_refinement(enc, {}, target, ref, 0, 0, 0, None,
                                False)
        dec = jbig2.MQDecoder(enc.flush())
        out = jbig2.decode_refinement(dec, {}, 5, 5, ref, 0, 0, 0,
                                      None, False)
        assert [bytes(r) for r in out] == [bytes(r) for r in target]


class TestBlitByteOps:
    """_blit's big-int byte ops must equal the per-pixel §4 operator
    semantics for every op under arbitrary clipping."""

    def test_all_ops_all_clips_match_scalar_reference(self):
        import random

        from pdf2dataset_spark.sources.jbig2 import _COMBOPS, _blit

        rng = random.Random(3)
        for _ in range(150):
            big_w, big_h = rng.randint(1, 90), rng.randint(1, 6)
            sw, sh = rng.randint(1, 100), rng.randint(1, 6)
            x0 = rng.randint(-sw - 2, big_w + 2)
            y0 = rng.randint(-sh - 2, big_h + 2)
            op = rng.randrange(5)
            dst = [
                bytearray(rng.getrandbits(1) for _ in range(big_w))
                for _ in range(big_h)
            ]
            src = [
                bytearray(rng.getrandbits(1) for _ in range(sw))
                for _ in range(sh)
            ]
            ref = [bytearray(r) for r in dst]
            f = _COMBOPS[op]
            for sy in range(sh):
                yy = y0 + sy
                if not 0 <= yy < big_h:
                    continue
                for sx in range(sw):
                    xx = x0 + sx
                    if not 0 <= xx < big_w:
                        continue
                    ref[yy][xx] = f(ref[yy][xx], src[sy][sx])
            _blit(dst, src, x0, y0, op)
            assert dst == ref, (big_w, big_h, sw, sh, x0, y0, op)
