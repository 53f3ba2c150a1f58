"""JPEG 2000 (/JPXDecode) codec tests — DWT, tag trees, EBCOT,
codestream round-trips, JP2 container, and the minipdf integration.

No Spark: pure-codec coverage (the Spark-side extraction path is
pinned by the a26_jpx_image_extract golden oracle)."""

import random

import pytest

from pdf2dataset_spark.sources import minipdf
from pdf2dataset_spark.sources.jpx import (
    JPXError,
    JPXUnsupported,
    TagTreeDecoder,
    TagTreeEncoder,
    _dwt53_forward_1d,
    _dwt53_inverse_1d,
    decode_codeblock,
    decode_codestream,
    decode_jpx,
    decode_jpx_gray,
    dwt53_forward_2d,
    dwt53_inverse_2d,
    encode_codeblock_styled,
    encode_jpx,
)


class TestDWT53:
    @pytest.mark.parametrize("n", [1, 2, 3, 4, 5, 7, 8, 9, 16, 17, 100, 101])
    def test_1d_roundtrip(self, n):
        rng = random.Random(n)
        for _ in range(5):
            x = [rng.randrange(-255, 256) for _ in range(n)]
            lo, hi = _dwt53_forward_1d(x)
            assert len(lo) == (n + 1) // 2 and len(hi) == n // 2
            assert _dwt53_inverse_1d(lo, hi) == x

    @pytest.mark.parametrize(
        "w,h,lv",
        [(1, 1, 3), (5, 3, 2), (16, 16, 3), (17, 13, 4), (64, 48, 5),
         (33, 1, 3), (1, 31, 3)],
    )
    def test_2d_multilevel_roundtrip(self, w, h, lv):
        rng = random.Random(w * h + lv)
        img = [[rng.randrange(-255, 256) for _ in range(w)]
               for _ in range(h)]
        assert dwt53_inverse_2d(dwt53_forward_2d(img, lv), w, h, lv) == img

    @pytest.mark.parametrize(
        "w,h,lv",
        [(1, 1, 3), (5, 3, 2), (17, 13, 4), (64, 48, 5), (101, 77, 4)],
    )
    def test_numpy_inverse_bitwise_equals_reference(self, w, h, lv):
        import numpy as np

        from pdf2dataset_spark.sources.jpx import _dwt53_inverse_2d_np

        rng = random.Random(w * h * (lv + 1))
        img = [[rng.randrange(-255, 256) for _ in range(w)]
               for _ in range(h)]
        plane = dwt53_forward_2d(img, lv)
        ref = dwt53_inverse_2d(plane, w, h, lv)
        arr = np.array(plane, np.int64).reshape(h, w)
        assert _dwt53_inverse_2d_np(arr, w, h, lv).tolist() == ref

    def test_energy_compaction_on_smooth_signal(self):
        # high band of a linear ramp must be zero: the 5/3 predictor
        # is exact for degree-1 signals (odd length, so every odd
        # sample has interior neighbours — the even-length edge case
        # legitimately leaves one mirror residual)
        x = list(range(0, 202, 2))
        lo, hi = _dwt53_forward_1d(x)
        assert all(v == 0 for v in hi)

    @pytest.mark.parametrize("n", [1, 2, 3, 4, 5, 7, 8, 9, 16, 17])
    def test_1d_odd_phase_roundtrip(self, n):
        """Round-10: the odd lifting phase (signal starting at an
        odd absolute position — canvas-offset streams). Band counts
        swap (low = n//2) and the single sample doubles into the
        high band (F.3.4's one-sample rule)."""
        rng = random.Random(1000 + n)
        for _ in range(5):
            x = [rng.randrange(-255, 256) for _ in range(n)]
            lo, hi = _dwt53_forward_1d(x, 1)
            assert len(lo) == n // 2 and len(hi) == (n + 1) // 2
            assert _dwt53_inverse_1d(lo, hi, 1) == x
        if n == 1:
            assert _dwt53_forward_1d([7], 1) == ([], [14])

    @pytest.mark.parametrize(
        "ox,oy,w,h,lv",
        [(1, 0, 5, 3, 2), (0, 1, 16, 16, 3), (1, 1, 17, 13, 4),
         (3, 5, 64, 48, 5), (7, 2, 1, 31, 3), (9, 9, 1, 1, 3)],
    )
    def test_2d_odd_origin_roundtrip_and_np_twin(self, ox, oy, w, h,
                                                 lv):
        import numpy as np

        from pdf2dataset_spark.sources.jpx import _dwt53_inverse_2d_np

        rng = random.Random(ox * 7 + oy * 13 + w * h + lv)
        img = [[rng.randrange(-255, 256) for _ in range(w)]
               for _ in range(h)]
        plane = dwt53_forward_2d(img, lv, (ox, oy))
        assert dwt53_inverse_2d(plane, w, h, lv, (ox, oy)) == img
        arr = np.array(plane, np.int64).reshape(h, w)
        assert _dwt53_inverse_2d_np(
            arr, w, h, lv, (ox, oy)).tolist() == img

    def test_odd_phase_shifts_are_not_relabelings(self):
        """The two phases are genuinely different transforms: on a
        signal where they could only agree by accident, the band
        contents differ (guards against a parity argument being
        silently ignored)."""
        x = [3, 1, 4, 1, 5, 9, 2, 6]
        assert _dwt53_forward_1d(x, 0) != _dwt53_forward_1d(x, 1)


class TestTagTree:
    @pytest.mark.parametrize("tw,th", [(1, 1), (3, 2), (4, 4), (7, 5)])
    def test_roundtrip_rising_thresholds(self, tw, th):
        rng = random.Random(tw * 10 + th)
        vals = {(x, y): rng.randrange(0, 8)
                for x in range(tw) for y in range(th)}
        bits = []
        enc = TagTreeEncoder(tw, th, vals)
        for (x, y), v in sorted(vals.items()):
            t = 1
            while True:
                enc.encode(bits.append, x, y, t)
                if v < t:
                    break
                t += 1
        it = iter(bits)
        dec = TagTreeDecoder(tw, th)
        for (x, y), v in sorted(vals.items()):
            t = 1
            while True:
                if dec.decode(lambda: next(it), x, y, t):
                    assert v < t
                    break
                assert v >= t
                t += 1
        assert next(it, None) is None  # bit-exact consumption


class TestEBCOT:
    @pytest.mark.parametrize("band,cbstyle", [
        pytest.param(band, cbstyle,
                     id=band if cbstyle == 0 else f"{band}-{cbstyle:#04x}")
        for cbstyle in range(0x40)
        for band in ["LL", "HL", "LH", "HH"]
    ])
    def test_codeblock_roundtrip(self, band, cbstyle):
        """Differential gate: the one decoder against the reference
        walkers of the encoder, for every code-block style (D.7)."""
        rng = random.Random(band)
        # one pixel up to a full 64x64 block, odd sides and partial
        # last strips included (h % 4 != 0 meets causal masking at a
        # partial stripe)
        for (w, h) in [(1, 1), (4, 4), (8, 5), (16, 16), (13, 9),
                       (32, 32), (45, 23), (64, 17), (64, 64)]:
            for mag in (1, 7, 255, 2047):
                coeffs = [rng.randrange(-mag, mag + 1) for _ in range(w * h)]
                segs, npasses, nplanes = encode_codeblock_styled(
                    coeffs, w, h, band, cbstyle
                )
                assert decode_codeblock(
                    segs, w, h, band, nplanes, npasses, cbstyle
                ) == coeffs

    @pytest.mark.parametrize("cbstyle,k,want", [
        (0x00, 5, [
            0, 192, -128, 192, -128, 32, -192, 0, 64, -64, 32, 64, 64,
            32, -128, 192, 192, 0, -192, -128, 0, 64, -128, 64, 64,
            -192, -64, 64, -64, 0, -64, 128, -64, -128, 128, -192, 64,
            192, -64, -192,
        ]),
        (0x3F, 14, [
            -16, 216, -184, 208, -168, 48, -192, -8, 112, -72, 40, 104,
            96, 32, -144, 248, 248, 8, -200, -176, -24, 88, -168, 64,
            64, -200, -120, 80, -104, 16, -120, 136, -112, -128, 168,
            -192, 64, 240, -64, -232,
        ]),
    ])
    def test_truncated_layer_decodes_first_passes(self, cbstyle, k, want):
        """A layer that stops after pass k: the decoder gets the
        segments of the first k passes (every pass is one under
        termall) and returns the partial magnitudes. ``want`` is a
        pinned literal, so a drift in the truncated-pass handling
        shows here."""
        rng = random.Random(1503)
        w, h = 8, 5
        coeffs = [rng.randrange(-255, 256) for _ in range(w * h)]
        segs, npasses, nplanes = encode_codeblock_styled(
            coeffs, w, h, "HH", cbstyle
        )
        assert npasses == 22 and nplanes == 8
        if cbstyle & 0x04:
            segs = segs[:k]
        assert decode_codeblock(
            segs, w, h, "HH", nplanes, k, cbstyle
        ) == want

    def test_sparse_blocks_runlength_path(self):
        rng = random.Random(3)
        for _ in range(10):
            coeffs = [0] * 256
            for _ in range(5):
                coeffs[rng.randrange(256)] = rng.randrange(-100, 101)
            segs, npasses, nplanes = encode_codeblock_styled(
                coeffs, 16, 16, "LL", 0
            )
            assert decode_codeblock(
                segs, 16, 16, "LL", nplanes, npasses, 0
            ) == coeffs


class TestCodestream:
    @pytest.mark.parametrize(
        "w,h,lv",
        [(8, 8, 1), (16, 16, 3), (33, 17, 3), (70, 70, 3), (1, 1, 0),
         (5, 1, 2), (64, 64, 0), (150, 140, 2)],
    )
    def test_gray_lossless_roundtrip(self, w, h, lv):
        rng = random.Random(w + h + lv)
        px = bytes(rng.randrange(256) for _ in range(w * h))
        assert decode_jpx(encode_jpx(w, h, px, 1, levels=lv))[2] == px

    @pytest.mark.parametrize("mct", [True, False])
    def test_rgb_lossless_roundtrip(self, mct):
        rng = random.Random(42 + mct)
        for (w, h, lv) in [(21, 13, 2), (40, 30, 3), (65, 65, 2)]:
            px = bytes(rng.randrange(256) for _ in range(w * h * 3))
            got = decode_jpx(encode_jpx(w, h, px, 3, levels=lv, mct=mct))
            assert got == (w, h, px)

    def test_jp2_container_roundtrip_and_compression(self):
        w, h = 40, 30
        px = bytes(min(255, x * 3 + y * 2) for y in range(h)
                   for x in range(w))
        data = encode_jpx(w, h, px, 1, levels=3, jp2=True)
        assert decode_jpx(data)[2] == px
        assert len(data) < w * h // 2  # smooth content really compresses

    def test_gray_helper_luma(self):
        px = bytes(range(64))
        assert decode_jpx_gray(encode_jpx(8, 8, px, 1))[2] == px
        rgb = bytes(v for i in range(64) for v in (i, i, i))
        w, h, gray = decode_jpx_gray(encode_jpx(8, 8, rgb, 3))
        assert gray == bytes(range(64))  # equal channels → luma == value

    def test_malformed_streams_raise_named_errors(self):
        with pytest.raises(JPXError):
            decode_jpx(b"\x00\x01\x02\x03")
        with pytest.raises(JPXError):
            decode_jpx(b"\xff\x4f\xff\xd9")  # SOC then EOC, no headers
        good = bytearray(encode_jpx(8, 8, bytes(64), 1, levels=1))
        good[20] ^= 0xFF  # corrupt the SIZ
        with pytest.raises(JPXError):
            decode_jpx(bytes(good))

    def test_truncated_main_header_and_sot_raise_jpx_error(self):
        # a stream cut anywhere in its main header or first SOT
        # segment is malformed: JPXError, never struct.error or
        # IndexError from a field read past the end
        import struct

        rgb = bytes((x * 7 + y * 3 + c * 50) & 0xFF
                    for y in range(12) for x in range(16) for c in range(3))
        for data in (
            encode_jpx(16, 12, bytes(range(192)), 1, levels=2),
            encode_jpx(16, 12, rgb, 3, levels=2, mct=False, coc={1: 1},
                       sop=True, eph=True, precincts=((15, 15),) * 3),
            encode_jpx(16, 12, bytes(range(192)), 1, levels=1,
                       irreversible=True, tile_size=(8, 8)),
        ):
            sot = data.index(b"\xff\x90")
            sot_end = sot + 2 + struct.unpack_from(">H", data, sot + 2)[0]
            for cut in range(sot_end + 1):
                with pytest.raises(JPXError):
                    decode_codestream(data[:cut])

    def test_undefined_cbstyle_bits_rejected(self):
        # every DEFINED code-block style bit decodes since round 5;
        # an undefined bit (0x40) is a malformed stream
        data = bytearray(encode_jpx(8, 8, bytes(range(64)), 1, levels=1))
        cod_at = bytes(data).index(b"\xff\x52")
        data[cod_at + 2 + 2 + 8] = 0x40
        with pytest.raises(JPXError):
            decode_jpx(bytes(data))

    def test_mismatched_transform_quant_rejected(self):
        # 9/7 transform with a no-quantization QCD is MALFORMED
        # (T.800 Table A.30 pairs them with 5/3), not merely
        # unsupported — named JPXError either way
        data = bytearray(encode_jpx(8, 8, bytes(range(64)), 1, levels=1))
        cod_at = bytes(data).index(b"\xff\x52")
        data[cod_at + 2 + 2 + 9] = 0
        with pytest.raises(JPXError):
            decode_jpx(bytes(data))
        # and the converse: 5/3 with scalar quantization
        lossy = bytearray(
            encode_jpx(8, 8, bytes(range(64)), 1, levels=1,
                       irreversible=True)
        )
        cod_at = bytes(lossy).index(b"\xff\x52")
        lossy[cod_at + 2 + 2 + 9] = 1
        with pytest.raises(JPXError):
            decode_jpx(bytes(lossy))


class TestMinipdfIntegration:
    def test_page_images_decodes_jpx_xobject(self):
        rng = random.Random(4)
        w, h = 30, 22
        px = bytes(rng.randrange(256) for _ in range(w * h))
        for jp2 in (False, True):
            data = encode_jpx(w, h, px, 1, levels=2, jp2=jp2)
            pdf = minipdf.build_pdf(
                [""],
                images=[{"filter": "/JPXDecode", "width": w, "height": h,
                         "data": data}],
            )
            doc = minipdf.PdfDocument(pdf)
            (entry,) = doc.page_images(doc.pages()[0], decode_pixels=True)
            assert entry["format"] == "jpx"
            assert entry["decodable"] is True
            assert entry["data"] == data
            assert entry["pixels"] == px

    def test_rgb_xobject_pixels_interleaved(self):
        rng = random.Random(5)
        w, h = 12, 9
        px = bytes(rng.randrange(256) for _ in range(w * h * 3))
        data = encode_jpx(w, h, px, 3, levels=1)
        pdf = minipdf.build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": w, "height": h,
                     "data": data, "colorspace": "/DeviceRGB"}],
        )
        (entry,) = minipdf.extract_page_images(pdf, decode_pixels=True)[0]
        assert entry["decodable"] is True and entry["pixels"] == px

    def test_garbage_stream_honestly_undecodable(self):
        pdf = minipdf.build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": 4, "height": 4,
                     "data": b"\x00\x01"}],
        )
        (entry,) = minipdf.extract_page_images(pdf)[0]
        assert entry["format"] == "jpx"
        assert entry["decodable"] is False
        assert entry["data"] == b"\x00\x01"

    def test_scanned_page_ocr_roundtrip(self):
        from pdf2dataset_spark.sources import raster
        from pdf2dataset_spark.sources.codecs import PdfCodec

        text = "JPX SCAN 9"
        w, h, rpx = raster._rasterize(text)
        data = encode_jpx(w, h, bytes(rpx), 1, levels=3)
        pdf = minipdf.build_pdf(
            [""],
            images=[{"filter": "/JPXDecode", "width": w, "height": h,
                     "data": data}],
        )
        codec = PdfCodec()
        handle = codec.open(pdf)
        assert codec.page_text(handle, 1) == ""
        assert codec.page_ocr(handle, 1) == text


class TestMultiTile:
    """Tiled codestreams (independent per-tile transforms, raster
    Isot order) and the A.8 SOP/EPH resync markers."""

    def _px(self, w, h, seed=5):
        rng = random.Random(seed)
        return bytes(rng.randrange(256) for _ in range(w * h))

    def test_tiled_lossless_bit_exact(self):
        w, h = 61, 47
        px = self._px(w, h)
        for ts in ((32, 32), (16, 20), (61, 47), (7, 9)):
            data = encode_jpx(w, h, px, 1, levels=2, tile_size=ts)
            assert decode_jpx(data)[2] == px, ts

    def test_sop_eph_markers(self):
        w, h = 40, 30
        px = self._px(w, h, 6)
        for sop, eph in ((True, False), (False, True), (True, True)):
            data = encode_jpx(w, h, px, 1, levels=2, tile_size=(16, 16),
                              sop=sop, eph=eph)
            if sop:
                assert b"\xff\x91" in data
            if eph:
                assert b"\xff\x92" in data
            assert decode_jpx(data)[2] == px, (sop, eph)

    def test_tiled_rgb_bit_exact(self):
        w, h = 16, 12
        rgb = self._px(w * 3, h, 7)
        data = encode_jpx(w, h, rgb, 3, levels=1, tile_size=(8, 8),
                          sop=True, eph=True)
        assert decode_jpx(data)[2] == rgb

    def test_tiled_lossy(self):
        import numpy as np

        w, h = 61, 47
        px = self._px(w, h, 8)
        for style in ("expounded", "derived"):
            data = encode_jpx(w, h, px, 1, levels=2, irreversible=True,
                              quality_bits=10, quant_style=style,
                              tile_size=(32, 32))
            got = np.frombuffer(decode_jpx(data)[2], np.uint8).astype(int)
            want = np.frombuffer(px, np.uint8).astype(int)
            assert np.abs(got - want).max() <= 1, style

    def test_missing_tile_raises(self):
        w, h = 40, 30
        px = self._px(w, h, 9)
        data = encode_jpx(w, h, px, 1, levels=1, tile_size=(20, 30))
        # truncate at the second tile's SOT
        first_sot = data.index(b"\xff\x90")
        second_sot = data.index(b"\xff\x90", first_sot + 2)
        with pytest.raises(JPXError):
            decode_jpx(data[:second_sot] + b"\xff\xd9")

    def test_multiple_tile_parts_round_trip(self):
        w, h = 45, 37
        px = self._px(w, h, 10)
        for tp in (2, 3, 7):
            data = encode_jpx(w, h, px, 1, levels=2, tile_parts=tp)
            # 3 packets (levels=2, 1 layer, 1 comp) cap the split
            assert data.count(b"\xff\x90") >= min(tp, 3)
            assert decode_jpx(data)[2] == px, tp
        # combined with tiling, layers and resync markers
        data = encode_jpx(w, h, px, 1, levels=2, tile_parts=3,
                          tile_size=(24, 20), layers=2, sop=True,
                          eph=True)
        assert decode_jpx(data)[2] == px

    def test_non_contiguous_tile_parts_rejected(self):
        w, h = 16, 12
        px = self._px(w, h, 10)
        data = bytearray(encode_jpx(w, h, px, 1, levels=1))
        at = bytes(data).index(b"\xff\x90")
        data[at + 8 + 2] = 1  # TPsot = 1 with part 0 missing
        with pytest.raises(JPXError):
            decode_jpx(bytes(data))

    def test_missing_eph_rejected(self):
        w, h = 16, 12
        px = self._px(w, h, 11)
        data = bytearray(
            encode_jpx(w, h, px, 1, levels=1, eph=True)
        )
        at = bytes(data).index(b"\xff\x92")
        data[at + 1] ^= 0x01  # corrupt the EPH marker
        with pytest.raises(JPXError):
            decode_jpx(bytes(data))


class TestQualityLayers:
    """Multiple quality layers (B.10/B.12): per-precinct inclusion
    state persists across layer packets, per-layer chunks concatenate
    into each block's single MQ stream, all five progression orders."""

    def _px(self, n, seed):
        rng = random.Random(seed)
        return bytes(rng.randrange(256) for _ in range(n))

    @pytest.mark.parametrize("layers", [2, 3, 5])
    def test_layered_lossless_bit_exact(self, layers):
        w, h = 61, 47
        px = self._px(w * h, layers)
        data = encode_jpx(w, h, px, 1, levels=2, layers=layers)
        assert decode_jpx(data)[2] == px

    @pytest.mark.parametrize("prog", [0, 1, 2, 3, 4])
    def test_progression_orders(self, prog):
        w, h = 45, 37
        px = self._px(w * h, 20 + prog)
        for layers in (1, 3):
            data = encode_jpx(w, h, px, 1, levels=2, layers=layers,
                              prog=prog)
            assert decode_jpx(data)[2] == px, (prog, layers)

    def test_layered_tiled_rgb_sop_eph(self):
        w, h = 16, 12
        rgb = self._px(w * h * 3, 30)
        data = encode_jpx(w, h, rgb, 3, levels=1, layers=3,
                          tile_size=(8, 8), sop=True, eph=True,
                          prog=1)
        assert decode_jpx(data)[2] == rgb

    def test_layered_lossy(self):
        import numpy as np

        w, h = 40, 30
        px = self._px(w * h, 31)
        data = encode_jpx(w, h, px, 1, levels=2, layers=4,
                          irreversible=True, quality_bits=10)
        got = np.frombuffer(decode_jpx(data)[2], np.uint8).astype(int)
        want = np.frombuffer(px, np.uint8).astype(int)
        assert np.abs(got - want).max() <= 1

    def test_layer_count_in_cod_respected(self):
        # flipping the COD layer count on a 3-layer stream starves
        # the decoder of packets → named error, not silent corruption
        w, h = 24, 18
        px = self._px(w * h, 32)
        data = bytearray(encode_jpx(w, h, px, 1, levels=1, layers=3))
        cod_at = bytes(data).index(b"\xff\x52")
        data[cod_at + 2 + 2 + 3] = 1  # Lcod layers LSB: 3 → 1
        try:
            got = decode_jpx(bytes(data))[2]
            assert got != px  # fewer layers → partial data at best
        except JPXError:
            pass

    def test_zero_layers_rejected(self):
        with pytest.raises(JPXError):
            encode_jpx(8, 8, bytes(64), 1, layers=0)


class TestCraftedStreamBudgets:
    def test_crafted_layer_level_counts_fail_fast(self):
        # a sub-1KB stream must not allocate per-packet state for
        # millions of packets (the no-OOM invariant): crafted Lcod
        # layer/level counts are rejected against the bit budget
        # before any per-packet state exists
        import struct

        data = bytearray(encode_jpx(16, 16, bytes(256), 1, levels=4))
        cod_at = bytes(data).index(b"\xff\x52")
        data[cod_at + 6:cod_at + 8] = struct.pack(">H", 65535)
        with pytest.raises(JPXError, match="packet budget"):
            decode_jpx(bytes(data))

    def test_crafted_level_count_rejected(self):
        data = bytearray(encode_jpx(8, 8, bytes(64), 1, levels=1))
        cod_at = bytes(data).index(b"\xff\x52")
        data[cod_at + 2 + 2 + 5] = 255  # levels > 32
        with pytest.raises(JPXError):
            decode_jpx(bytes(data))


class TestSubsampling:
    """Component subsampling (SIZ XRsiz/YRsiz) — the 4:2:0 / 4:2:2
    chroma shapes real lossy scanner and camera JPX payloads use.
    Expected pixels are computed with an INDEPENDENT numpy replica
    of the T.800 B.2 reference-grid mapping (decimate by the
    top-left rule, upsample by replication), so a mapping bug in
    the codec cannot hide behind a self-round-trip."""

    SUBS_420 = ((1, 1), (2, 2), (2, 2))

    @staticmethod
    def _replica(rgb, subs):
        import numpy as np

        h, w, _ = rgb.shape
        out = np.empty_like(rgb)
        for c, (xr, yr) in enumerate(subs):
            d = rgb[..., c][::yr, ::xr]
            out[..., c] = np.repeat(
                np.repeat(d, yr, axis=0), xr, axis=1
            )[:h, :w]
        return out

    @pytest.mark.parametrize("subs", [
        ((1, 1), (2, 2), (2, 2)),   # 4:2:0
        ((1, 1), (2, 1), (2, 1)),   # 4:2:2
        ((1, 1), (4, 4), (4, 4)),   # aggressive chroma decimation
    ])
    def test_passthrough_lossless_exact(self, subs):
        import numpy as np

        rng = np.random.default_rng(sum(s[0] + s[1] for s in subs))
        w, h = 37, 29
        rgb = rng.integers(0, 256, (h, w, 3), np.uint8)
        cs = encode_jpx(w, h, rgb.tobytes(), 3, levels=2, mct=False,
                        subsampling=subs)
        dw, dh, px = decode_jpx(cs)
        assert (dw, dh) == (w, h)
        got = np.frombuffer(px, np.uint8).reshape(h, w, 3)
        assert np.array_equal(got, self._replica(rgb, subs))

    @staticmethod
    def _replica_offset(rgb, subs, xo, yo):
        """Independent B.2/B.3 mapping WITH canvas offsets: component
        samples sit at grid multiples of the separation from the
        per-component ceil-division origin; grid points before the
        first sample clamp to it."""
        import numpy as np

        h, w, _ = rgb.shape
        out = np.empty_like(rgb)
        for c, (xr, yr) in enumerate(subs):
            cox, coy = -(-xo // xr), -(-yo // yr)
            d = rgb[(coy * yr - yo)::yr, (cox * xr - xo)::xr, c]
            iy = np.clip((np.arange(h) + yo) // yr - coy,
                         0, d.shape[0] - 1)
            ix = np.clip((np.arange(w) + xo) // xr - cox,
                         0, d.shape[1] - 1)
            out[..., c] = d[iy][:, ix]
        return out

    @pytest.mark.parametrize("xo,yo,subs,lv,tiles", [
        (1, 0, ((1, 1), (2, 2), (2, 2)), 2, None),       # odd x 4:2:0
        (3, 5, ((1, 1), (2, 2), (2, 2)), 2, (64, 64)),   # odd both, tiled
        (2, 1, ((1, 1), (2, 1), (2, 1)), 1, None),       # 4:2:2
        (7, 4, ((1, 1), (4, 4), (4, 4)), 3, (32, 32)),
        (1, 1, ((2, 2), (1, 1), (2, 1)), 2, None),       # mixed seps
    ])
    def test_offset_subsampling_exact(self, xo, yo, subs, lv, tiles):
        """Round-11 (verdict ask #4): canvas offsets COMPOSE with
        component subsampling — each component anchors at its own
        ceil-division origin (B.3), the lifting phase follows it, and
        the replication upsample maps the offset phase back. Expected
        pixels from the independent replica, so a phase bug cannot
        hide behind a self-round-trip."""
        import numpy as np

        rng = np.random.default_rng(xo * 13 + yo * 7 + lv)
        w, h = 37, 29
        rgb = rng.integers(0, 256, (h, w, 3), np.uint8)
        cs = encode_jpx(w, h, rgb.tobytes(), 3, levels=lv, mct=False,
                        subsampling=subs, image_offset=(xo, yo),
                        tile_size=tiles if tiles else (64, 64))
        dw, dh, px = decode_jpx(cs)
        assert (dw, dh) == (w, h)
        got = np.frombuffer(px, np.uint8).reshape(h, w, 3)
        assert np.array_equal(got, self._replica_offset(rgb, subs, xo, yo))

    def test_offset_external_sycc_exact(self):
        """mct=True + 4:2:0 + odd canvas offsets: external ICT +
        sYCC colr over the reversible core — bitwise equal to the
        independent offset-aware forward/inverse replica chain."""
        import numpy as np

        rng = np.random.default_rng(19)
        w, h = 33, 21
        xo, yo = 3, 1
        rgb = rng.integers(0, 256, (h, w, 3), np.uint8)
        jp = encode_jpx(w, h, rgb.tobytes(), 3, levels=2, mct=True,
                        jp2=True, subsampling=self.SUBS_420,
                        image_offset=(xo, yo), tile_size=(64, 64))
        dw, dh, px = decode_jpx(jp)
        assert (dw, dh) == (w, h)
        got = np.frombuffer(px, np.uint8).reshape(h, w, 3)

        cen = rgb.astype(np.float64) - 128.0
        r_, g_, b_ = cen[..., 0], cen[..., 1], cen[..., 2]
        planes = [
            np.round(0.299 * r_ + 0.587 * g_ + 0.114 * b_),
            np.round(-0.16875 * r_ - 0.33126 * g_ + 0.5 * b_),
            np.round(0.5 * r_ - 0.41869 * g_ - 0.08131 * b_),
        ]
        ups = []
        for p, (xr, yr) in zip(planes, self.SUBS_420):
            cox, coy = -(-xo // xr), -(-yo // yr)
            d = p[(coy * yr - yo)::yr, (cox * xr - xo)::xr]
            iy = np.clip((np.arange(h) + yo) // yr - coy,
                         0, d.shape[0] - 1)
            ix = np.clip((np.arange(w) + xo) // xr - cox,
                         0, d.shape[1] - 1)
            ups.append(d[iy][:, ix])
        yy, cb, cr = ups
        exp = np.clip(np.rint(np.stack([
            yy + 1.402 * cr,
            yy - (0.114 * 1.772 / 0.587) * cb
            - (0.299 * 1.402 / 0.587) * cr,
            yy + 1.772 * cb,
        ], axis=-1)) + 128, 0, 255).astype(np.uint8)
        assert np.array_equal(got, exp)

    def test_external_sycc_lossless_exact(self):
        """mct=True + unequal subsampling → external ICT with the
        sYCC colr box; decode inverts it bitwise (replica computes
        the rounded forward/inverse chain independently)."""
        import numpy as np

        rng = np.random.default_rng(11)
        w, h = 33, 21
        rgb = rng.integers(0, 256, (h, w, 3), np.uint8)
        jp = encode_jpx(w, h, rgb.tobytes(), 3, levels=2, mct=True,
                        jp2=True, subsampling=self.SUBS_420)
        dw, dh, px = decode_jpx(jp)
        got = np.frombuffer(px, np.uint8).reshape(h, w, 3)

        cen = rgb.astype(np.float64) - 128.0
        r_, g_, b_ = cen[..., 0], cen[..., 1], cen[..., 2]
        planes = [
            np.round(0.299 * r_ + 0.587 * g_ + 0.114 * b_),
            np.round(-0.16875 * r_ - 0.33126 * g_ + 0.5 * b_),
            np.round(0.5 * r_ - 0.41869 * g_ - 0.08131 * b_),
        ]
        ups = [
            np.repeat(np.repeat(p[::yr, ::xr], yr, axis=0),
                      xr, axis=1)[:h, :w]
            for p, (xr, yr) in zip(planes, self.SUBS_420)
        ]
        yy, cb, cr = ups
        exp = np.clip(np.rint(np.stack([
            yy + 1.402 * cr,
            yy - (0.114 * 1.772 / 0.587) * cb
            - (0.299 * 1.402 / 0.587) * cr,
            yy + 1.772 * cb,
        ], axis=-1)) + 128, 0, 255).astype(np.uint8)
        assert np.array_equal(got, exp)

    def test_sycc_requires_colr18(self):
        """A RAW codestream (no JP2 colr box) with subsampled
        components must come back untransformed — the inverse ICT
        keys on EnumCS 18, never on a heuristic."""
        import numpy as np

        rng = np.random.default_rng(3)
        w, h = 16, 12
        rgb = rng.integers(0, 256, (h, w, 3), np.uint8)
        raw = encode_jpx(w, h, rgb.tobytes(), 3, levels=1, mct=False,
                         subsampling=self.SUBS_420)
        srgb = encode_jpx(w, h, rgb.tobytes(), 3, levels=1, mct=False,
                          jp2=True, subsampling=self.SUBS_420)
        assert decode_jpx(raw)[2] == decode_jpx(srgb)[2]

    def test_lossy_420_close_to_decimated_replica(self):
        import numpy as np

        w, h = 48, 40
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        sm = np.stack([(xx * 3 + yy * 2) % 256, (xx * 5) % 256,
                       (yy * 7) % 256], -1).astype(np.uint8)
        jl = encode_jpx(w, h, sm.tobytes(), 3, levels=2, mct=True,
                        jp2=True, irreversible=True, quality_bits=10,
                        subsampling=self.SUBS_420)
        got = np.frombuffer(decode_jpx(jl)[2], np.uint8).reshape(
            h, w, 3
        ).astype(np.int64)

        cen = sm.astype(np.float64) - 128.0
        r_, g_, b_ = cen[..., 0], cen[..., 1], cen[..., 2]
        planes = [
            0.299 * r_ + 0.587 * g_ + 0.114 * b_,
            -0.16875 * r_ - 0.33126 * g_ + 0.5 * b_,
            0.5 * r_ - 0.41869 * g_ - 0.08131 * b_,
        ]
        ups = [
            np.repeat(np.repeat(p[::yr, ::xr], yr, axis=0),
                      xr, axis=1)[:h, :w]
            for p, (xr, yr) in zip(planes, self.SUBS_420)
        ]
        yy2, cb, cr = ups
        exp = np.clip(np.rint(np.stack([
            yy2 + 1.402 * cr,
            yy2 - (0.114 * 1.772 / 0.587) * cb
            - (0.299 * 1.402 / 0.587) * cr,
            yy2 + 1.772 * cb,
        ], axis=-1)) + 128, 0, 255).astype(np.int64)
        assert np.abs(got - exp).max() <= 2

    def test_tiled_subsampled_exact(self):
        import numpy as np

        rng = np.random.default_rng(9)
        w, h = 37, 29
        rgb = rng.integers(0, 256, (h, w, 3), np.uint8)
        cs = encode_jpx(w, h, rgb.tobytes(), 3, levels=2, mct=False,
                        tile_size=(16, 16), subsampling=self.SUBS_420)
        got = np.frombuffer(decode_jpx(cs)[2], np.uint8).reshape(
            h, w, 3
        )
        assert np.array_equal(got, self._replica(rgb, self.SUBS_420))

    def test_mct_with_unequal_subsampling_malformed(self):
        """A stream SIGNALING in-codestream MCT over mixed
        separations violates T.800's MCT constraint → JPXError."""
        data = bytearray(
            encode_jpx(16, 12, bytes(16 * 12 * 3), 3, levels=1,
                       mct=False, subsampling=self.SUBS_420)
        )
        cod_at = bytes(data).index(b"\xff\x52")
        data[cod_at + 2 + 2 + 4] = 1  # flip SGcod's MCT byte on
        with pytest.raises(JPXError):
            decode_jpx(bytes(data))

    def test_unsupported_factor_named(self):
        data = bytearray(encode_jpx(8, 8, bytes(64), 1, levels=1))
        siz_at = bytes(data).index(b"\xff\x51")
        data[siz_at + 4 + 36 + 1] = 3  # XRsiz = 3
        with pytest.raises(JPXUnsupported):
            decode_jpx(bytes(data))

    def test_bad_encoder_subsampling_rejected(self):
        with pytest.raises(JPXError):
            encode_jpx(8, 8, bytes(8 * 8 * 3), 3,
                       subsampling=((1, 1), (3, 1), (1, 1)))
        with pytest.raises(JPXError):
            encode_jpx(8, 8, bytes(64), 1, subsampling=((2, 2),) * 3)


class TestPrecincts:
    """Non-default precincts (COD Scod bit 0, B.6) — per-precinct
    tag trees and position-correct packet ordering (B.12).
    Round-10: precincts SMALLER than the code block no longer
    decline — the effective block size shrinks per B-17
    (min(xcb, PPx - 1) for r > 0), so any Table A.21-legal precinct
    spec decodes."""

    def test_roundtrip_all_progressions(self):
        import numpy as np

        rng = np.random.default_rng(5)
        w, h = 300, 280
        px = rng.integers(0, 256, (h, w), np.uint8).tobytes()
        base = encode_jpx(w, h, px, 1, levels=2)
        for prog in range(5):
            cs = encode_jpx(w, h, px, 1, levels=2, prog=prog,
                            precincts=(7, 7))
            assert decode_jpx(cs)[2] == px
            assert cs != base  # genuinely multi-precinct structure

    def test_rgb_layers_tiles_resync(self):
        import numpy as np

        rng = np.random.default_rng(6)
        w, h = 300, 280
        rgb = rng.integers(0, 256, (h, w, 3), np.uint8).tobytes()
        cs = encode_jpx(w, h, rgb, 3, levels=3, prog=2,
                        precincts=(8, 7), layers=3, sop=True, eph=True)
        assert decode_jpx(cs)[2] == rgb
        # tiled + precincts: tile origins must sit on the canvas
        # precinct grid at every resolution (xts multiple of
        # 2^(PPx + levels)) — 256 with PP=2^7, levels=1
        px = rng.integers(0, 256, (h, w), np.uint8).tobytes()
        cs = encode_jpx(w, h, px, 1, levels=1, prog=4,
                        precincts=(7, 7), tile_size=(256, 256))
        assert decode_jpx(cs)[2] == px

    def test_misaligned_tile_precinct_grid_roundtrips(self):
        """Round-10: canvas-anchored precinct grids (B.6) that cut
        through a tile whose resolution-grid origin is off-grid
        ROUND-TRIP (the round-9 named decline) — every
        tile-component transforms and anchors at its absolute
        canvas origin now, so the tile-local convention that
        mis-walked this shape is gone. Tile origins here (150, 140)
        are not multiples of 2^(PP+levels), and 150/4, 140/4 are
        not integers at level 2 either — so this exercises BOTH the
        anchoring and the odd lifting phase per tile."""
        import numpy as np

        rng = np.random.default_rng(8)
        w, h = 300, 280
        px = rng.integers(0, 256, (h, w), np.uint8).tobytes()
        cs = encode_jpx(w, h, px, 1, levels=2, precincts=(7, 8),
                        tile_size=(150, 140))
        assert decode_jpx(cs)[2] == px
        # and the same shape with layers + RPCL + resync markers
        cs = encode_jpx(w, h, px, 1, levels=2, precincts=(7, 7),
                        tile_size=(150, 140), layers=2, prog=2,
                        sop=True, eph=True)
        assert decode_jpx(cs)[2] == px

    def test_lossy_subsampled_with_precincts(self):
        import numpy as np

        w, h = 300, 280
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        sm = np.dstack([(xx * 2) % 256, (yy * 3) % 256,
                        (xx + yy) % 256]).astype(np.uint8)
        cs = encode_jpx(w, h, sm.tobytes(), 3, levels=2,
                        irreversible=True, quality_bits=10, mct=True,
                        jp2=True, precincts=(7, 7),
                        subsampling=((1, 1), (2, 2), (2, 2)))
        got = np.frombuffer(decode_jpx(cs)[2], np.uint8).reshape(
            h, w, 3
        ).astype(int)
        assert np.abs(got - sm.astype(int)).mean() < 3

    def test_packet_order_pinned_against_b12(self):
        """Hand-derived B.12 sequences for a geometry where RPCL and
        PCRL genuinely differ (an independent check on the shared
        order builder — round-trips alone can't catch a transposed
        nesting because encoder and decoder share it)."""
        from pdf2dataset_spark.sources.jpx import (
            _packet_order, _precinct_info,
        )

        # 256x256, levels=1, PP=2^7: r0 is 128x128 -> one precinct;
        # r1 is 256x256 -> 2x2 precincts with 128-step anchors
        pinfo = _precinct_info([(256, 256)], 1, [(7, 7), (7, 7)],
                               [(1, 1)])
        assert pinfo[(0, 0)][:2] == (1, 1)
        assert pinfo[(1, 0)][:2] == (2, 2)
        rpcl = _packet_order(2, 1, 1, 1, pinfo)
        assert rpcl == [
            (0, 0, 0, 0),                  # r0: its only anchor
            (0, 1, 0, 0), (0, 1, 0, 1),    # r1 row y=0: x=0, 128
            (0, 1, 0, 2), (0, 1, 0, 3),    # r1 row y=128
        ]
        pcrl = _packet_order(3, 1, 1, 1, pinfo)
        assert pcrl == [
            (0, 0, 0, 0), (0, 1, 0, 0),    # (0,0): r0 anchor + r1 p0
            (0, 1, 0, 1),                  # (128, 0): r1 only
            (0, 1, 0, 2), (0, 1, 0, 3),    # y=128 row: r1 only
        ]
        # LRCP/RLCP with 2 layers: precinct raster inside each
        # (layer, resolution); RLCP swaps the outer two loops
        lrcp = _packet_order(0, 2, 1, 1, pinfo)
        assert lrcp[:5] == [(0, 0, 0, 0), (0, 1, 0, 0), (0, 1, 0, 1),
                            (0, 1, 0, 2), (0, 1, 0, 3)]
        assert lrcp[5] == (1, 0, 0, 0)
        rlcp = _packet_order(1, 2, 1, 1, pinfo)
        assert rlcp[:2] == [(0, 0, 0, 0), (1, 0, 0, 0)]

    def test_subsampled_component_anchor_stride(self):
        """A 2x-subsampled component's precinct anchors sit at
        DOUBLE the reference-grid stride (B.12 scales by XRsiz) —
        so its packets interleave later in PCRL."""
        from pdf2dataset_spark.sources.jpx import (
            _packet_order, _precinct_info,
        )

        pinfo = _precinct_info([(256, 128), (128, 64)], 0,
                               [(7, 7)], [(1, 1), (2, 2)])
        # comp0: 2x1 precincts at x=0,128; comp1: 1x1 at x=0
        assert pinfo[(0, 0)][:2] == (2, 1)
        assert pinfo[(0, 1)][:2] == (1, 1)
        pcrl = _packet_order(3, 1, 0, 2, pinfo)
        assert pcrl == [(0, 0, 0, 0), (0, 0, 1, 0), (0, 0, 0, 1)]

    def test_small_precincts_shrink_code_blocks(self):
        """Round-10 (the former named decline): precincts smaller
        than the signaled code block round-trip — the effective
        block grid shrinks to the band-domain precinct size, so
        blocks are never split."""
        import numpy as np

        rng = np.random.default_rng(77)
        w, h = 200, 150
        px = rng.integers(0, 256, (h, w), np.uint8).tobytes()
        for prec, prog in (((6, 6), 0), ((5, 5), 2), ((6, 5), 4),
                           ((5, 7), 3)):
            cs = encode_jpx(w, h, px, 1, levels=2, precincts=prec,
                            prog=prog, layers=2, sop=True, eph=True)
            assert decode_jpx(cs)[2] == px, (prec, prog)
        # a foreign-patched small-precinct COD against a 2^7 body:
        # geometry mismatch must fail typed or decode, never crash
        data = bytearray(
            encode_jpx(300, 280, bytes(300 * 280), 1, levels=2,
                       precincts=(7, 7))
        )
        cod_at = bytes(data).index(b"\xff\x52")
        data[cod_at + 4 + 10 + 1] = 0x66
        try:
            decode_jpx(bytes(data))
        except JPXError:
            pass

    def test_signaled_small_code_blocks(self):
        """Round-10: A.6.1-legal signaled block sizes (32x32 down
        to 4x4, rectangular too) round-trip; illegal ones refuse."""
        import numpy as np

        rng = np.random.default_rng(78)
        w, h = 150, 100
        px = rng.integers(0, 256, (h, w), np.uint8).tobytes()
        for cb in ((5, 5), (4, 6), (2, 2), (10, 2)):
            cs = encode_jpx(w, h, px, 1, levels=2, cb_exp=cb)
            assert decode_jpx(cs)[2] == px, cb
        for bad in ((1, 4), (11, 2), (7, 6)):
            with pytest.raises(JPXError):
                encode_jpx(w, h, px, 1, cb_exp=bad)

    def test_encoder_precinct_validation(self):
        with pytest.raises(JPXError):
            encode_jpx(8, 8, bytes(64), 1, levels=2,
                       precincts=[(7, 7)])  # wrong count
        with pytest.raises(JPXError):  # PPx=0 at r>0 (Table A.21)
            encode_jpx(8, 8, bytes(64), 1, levels=1,
                       precincts=[(6, 6), (0, 4)])
        # r=0 may go down to 2^6 (band cells are full scale there)
        px = bytes(range(256)) * 16
        cs = encode_jpx(64, 64, px, 1, levels=0, precincts=(6, 6))
        assert decode_jpx(cs)[2] == px

    def test_truncated_precinct_bytes_rejected(self):
        data = bytearray(
            encode_jpx(64, 64, bytes(64 * 64), 1, levels=1,
                       precincts=(7, 7))
        )
        cod_at = bytes(data).index(b"\xff\x52")
        # shrink Lcod so the precinct list is cut off
        import struct as _s
        old = _s.unpack_from(">H", data, cod_at + 2)[0]
        data[cod_at + 2:cod_at + 4] = _s.pack(">H", old - 2)
        with pytest.raises(JPXError):
            decode_jpx(bytes(data))


class TestArithmeticBypass:
    """Selective arithmetic coding bypass (T.800 D.7, cbstyle LAZY):
    the first 10 coding passes are one MQ segment, then raw sig/mag
    pairs (bit-stuffed, unpredicted sign bits) alternate with
    one-pass MQ cleanups, each codeword segment independently
    terminated and separately length-signaled in the packet header
    (B.10.7.4)."""

    def test_segment_boundary_rule(self):
        from pdf2dataset_spark.sources.jpx import (
            _bypass_is_raw, _style_parts,
        )

        # pass 0 cleanup; triplets after; raw from the 11th pass on
        assert [_bypass_is_raw(p) for p in range(13)] == (
            [False] * 10 + [True, True, False]
        )
        assert _style_parts(0, 16, 0x01) == [
            (0, 10, 0), (10, 12, 1), (12, 13, 2), (13, 15, 3),
            (15, 16, 4),
        ]
        # a contribution starting mid-segment keeps the seg index
        assert _style_parts(10, 13, 0x01) == [(10, 12, 1), (12, 13, 2)]

    def test_raw_io_bit_stuffing(self):
        from pdf2dataset_spark.sources.jpx import _RawReader, _RawWriter

        bits = [1] * 20 + [0, 1] * 30 + [1] * 9
        wtr = _RawWriter()
        for b in bits:
            wtr.bit(b)
        data = wtr.flush()
        # 0xFF never followed by a byte with MSB set, never trailing
        for i, byte in enumerate(data[:-1]):
            if byte == 0xFF:
                assert data[i + 1] < 0x80
        assert data[-1] != 0xFF
        rdr = _RawReader(data)
        assert [rdr.bit() for _ in range(len(bits))] == bits

    def test_deep_block_roundtrip_with_raw_segments(self):
        import random

        rng = random.Random(7)
        w, h = 33, 17
        coeffs = [rng.randint(-100000, 100000) if rng.random() < 0.7
                  else 0 for _ in range(w * h)]
        segs, npasses, nplanes = encode_codeblock_styled(
            coeffs, w, h, "LH", 0x01
        )
        assert len(segs) > 2  # raw segments actually used
        got = decode_codeblock(segs, w, h, "LH", nplanes, npasses,
                               0x01)
        assert got == coeffs

    def test_shallow_block_identical_to_plain_encoder(self):
        coeffs = [((i * 7) % 13) - 6 for i in range(64)]
        out = encode_codeblock_styled(coeffs, 8, 8, "HL", 0x01)
        # <= 10 passes: one MQ segment, the default style's
        assert len(out[0]) == 1
        assert out == encode_codeblock_styled(coeffs, 8, 8, "HL", 0)

    def test_full_stream_roundtrips(self):
        import numpy as np

        rng = np.random.default_rng(13)
        w, h = 200, 150
        px = rng.integers(0, 256, (h, w), np.uint8).tobytes()
        cs = encode_jpx(w, h, px, 1, levels=3, bypass=True)
        assert decode_jpx(cs)[2] == px
        assert cs != encode_jpx(w, h, px, 1, levels=3)
        rgb = rng.integers(0, 256, (h, w, 3), np.uint8).tobytes()
        cs = encode_jpx(w, h, rgb, 3, levels=2, bypass=True, layers=3,
                        prog=1)
        assert decode_jpx(cs)[2] == rgb
        # tile origins on the canvas precinct grid: 128 with 2^7
        # precincts at levels=0
        cs = encode_jpx(w, h, px, 1, levels=0, bypass=True,
                        precincts=(7, 7), tile_size=(128, 128),
                        sop=True, eph=True, prog=2)
        assert decode_jpx(cs)[2] == px

    def test_lossy_bypass_roundtrip(self):
        import numpy as np

        w, h = 200, 150
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        sm = ((xx * 3 + yy * 2) % 256).astype(np.uint8)
        cs = encode_jpx(w, h, sm.tobytes(), 1, levels=3,
                        irreversible=True, quality_bits=12,
                        bypass=True)
        got = np.frombuffer(decode_jpx(cs)[2], np.uint8).astype(int)
        assert np.abs(got - sm.reshape(-1).astype(int)).max() <= 1

    @pytest.mark.parametrize("cbstyle", [
        0x02,          # reset
        0x04,          # termall
        0x08,          # vertically causal
        0x10,          # predictable termination (decode no-op)
        0x20,          # segmentation symbols
        0x05,          # bypass + termall (raw passes each terminated)
        0x03,          # bypass + reset
        0x09,          # bypass + causal
        0x21,          # bypass + segmark
        0x3F,          # everything at once
    ])
    def test_full_cbstyle_matrix_roundtrips(self, cbstyle):
        """Every defined code-block style bit (and combinations)
        must round-trip losslessly — reset/termall/causal/segmark
        change the coding decisions, so a decoder ignoring any of
        them desynchronizes immediately on deep noise blocks."""
        import numpy as np

        rng = np.random.default_rng(cbstyle)
        w, h = 150, 100
        px = rng.integers(0, 256, (h, w), np.uint8).tobytes()
        cs = encode_jpx(w, h, px, 1, levels=2, cbstyle=cbstyle)
        assert decode_jpx(cs)[2] == px
        if cbstyle != 0x10:  # predictable-term alone is stream-equal
            assert cs != encode_jpx(w, h, px, 1, levels=2)

    def test_segmark_detects_corruption(self):
        """Segmentation symbols exist to catch corrupt block data:
        flipping a payload byte must surface as a named error, not
        silent garbage (the corruption lands in the big LL block's
        MQ stream ahead of a later cleanup's 1010 check)."""
        import numpy as np

        rng = np.random.default_rng(99)
        w, h = 64, 64
        px = rng.integers(0, 256, (h, w), np.uint8).tobytes()
        cs = bytearray(encode_jpx(w, h, px, 1, levels=0,
                                  cbstyle=0x20))
        sod = bytes(cs).index(b"\xff\x93") + 2
        detected = 0
        for flip in range(40, 200, 16):
            bad = bytearray(cs)
            bad[sod + flip] ^= 0x55
            try:
                out = decode_jpx(bytes(bad))[2]
                if out != px:
                    continue  # garbage but undetected at this offset
            except JPXError:
                detected += 1
        assert detected >= 5  # most corruptions caught by 1010 checks


class TestROIMaxshift:
    """ROI maxshift (T.800 Annex H / RGN marker): the encoder scales
    region-of-interest coefficients above every background bit plane
    (s > max background magnitude's bit length); the decoder
    identifies ROI coefficients purely by the 2^SPrgn magnitude
    threshold and scales them back."""

    def test_roundtrips(self):
        import numpy as np

        rng = np.random.default_rng(21)
        w, h = 120, 90
        px = rng.integers(0, 256, (h, w), np.uint8).tobytes()
        cs = encode_jpx(w, h, px, 1, levels=2, roi=(20, 10, 70, 50))
        assert b"\xff\x5e" in cs  # RGN marker present
        assert decode_jpx(cs)[2] == px
        rgb = rng.integers(0, 256, (h, w, 3), np.uint8).tobytes()
        cs = encode_jpx(w, h, rgb, 3, levels=2, mct=True,
                        roi=(0, 0, 30, 30))
        assert decode_jpx(cs)[2] == rgb
        cs = encode_jpx(w, h, px, 1, levels=2, roi=(20, 10, 70, 50),
                        tile_size=(64, 48), bypass=True)
        assert decode_jpx(cs)[2] == px

    def test_roi_actually_shifted_in_stream(self):
        """The ROI stream must carry genuinely deeper bitplanes —
        strip the decoder's downshift (patch SPrgn to 0) and the
        image comes back WRONG in the ROI, proving the threshold
        rule is load-bearing."""
        import numpy as np

        rng = np.random.default_rng(4)
        w, h = 64, 64
        px = rng.integers(0, 256, (h, w), np.uint8).tobytes()
        cs = bytearray(encode_jpx(w, h, px, 1, levels=1,
                                  roi=(0, 0, 32, 32)))
        rgn_at = bytes(cs).index(b"\xff\x5e")
        assert cs[rgn_at + 6] > 8  # SPrgn above any 8-bit background
        cs[rgn_at + 6] = 0  # lobotomize the shift
        got = decode_jpx(bytes(cs))[2]
        assert got != px

    def test_unknown_roi_style_named(self):
        cs = bytearray(encode_jpx(8, 8, bytes(64), 1, levels=1,
                                  roi=(0, 0, 4, 4)))
        rgn_at = bytes(cs).index(b"\xff\x5e")
        cs[rgn_at + 5] = 2  # Srgn = 2 (elliptic, T.801): named decline
        with pytest.raises(JPXUnsupported):
            decode_jpx(bytes(cs))

    def test_truncated_scaling_rgn_is_error(self):
        # Srgn = 1 without the 16 region bytes: clean parse error,
        # not a decline and not a desync
        cs = bytearray(encode_jpx(8, 8, bytes(64), 1, levels=1,
                                  roi=(0, 0, 4, 4)))
        rgn_at = bytes(cs).index(b"\xff\x5e")
        cs[rgn_at + 5] = 1
        with pytest.raises(JPXError):
            decode_jpx(bytes(cs))

    def test_roi_rejected_with_lossy_fixture_path(self):
        with pytest.raises(JPXError):
            encode_jpx(8, 8, bytes(64), 1, irreversible=True,
                       roi=(0, 0, 4, 4))


class TestROIScaling:
    """Scaling-based rectangle ROI (T.801 Srgn=1, round-11 verdict
    ask #3): the region is SIGNALED in the RGN segment
    (SPrgn + XArgn/YArgn/WArgn/HArgn), the shift is encoder-chosen,
    and the decoder identifies ROI coefficients GEOMETRICALLY — both
    sides derive the same disjoint per-band rectangles from the
    dependency closure of the region through the engine's own 5/3
    lifting (_roi_band_rects)."""

    def test_roundtrips(self):
        import numpy as np

        rng = np.random.default_rng(33)
        w, h = 120, 90
        px = rng.integers(0, 256, (h, w), np.uint8).tobytes()
        for rect, kw in (
            ((20, 10, 70, 50), {}),
            ((0, 0, 30, 30), {"layers": 2, "prog": 2}),
            ((40, 10, 90, 50), {"tile_size": (64, 48)}),
            ((5, 5, 25, 20), {"bypass": True}),
        ):
            cs = encode_jpx(w, h, px, 1, levels=2, roi=rect,
                            roi_style=1, roi_shift=5, **kw)
            assert b"\xff\x5e" in cs
            assert decode_jpx(cs)[2] == px, (rect, kw)
        rgb = rng.integers(0, 256, (h, w, 3), np.uint8).tobytes()
        cs = encode_jpx(w, h, rgb, 3, levels=2, mct=True,
                        roi=(10, 10, 40, 40), roi_style=1, roi_shift=4)
        assert decode_jpx(cs)[2] == rgb

    def test_mask_is_dependency_closure(self):
        """Zeroing every coefficient OUTSIDE the band rects must
        still reconstruct the ROI samples EXACTLY (the H.2 mask
        concept: the mask is precisely the coefficients the region
        depends on). Seeded sweep over sizes/levels/rects incl.
        1-wide edges."""
        import random

        from pdf2dataset_spark.sources.jpx import (
            _roi_band_rects, dwt53_forward_2d, dwt53_inverse_2d)

        rnd = random.Random(7)
        for _ in range(40):
            w, h = rnd.randint(1, 40), rnd.randint(1, 40)
            lv = rnd.randint(0, 4)
            x0 = rnd.randint(0, w - 1); x1 = rnd.randint(x0 + 1, w)
            y0 = rnd.randint(0, h - 1); y1 = rnd.randint(y0 + 1, h)
            rows = [[rnd.randint(-128, 127) for _ in range(w)]
                    for _ in range(h)]
            plane = dwt53_forward_2d([r[:] for r in rows], lv)
            keep = [[0] * w for _ in range(h)]
            for (a, b, c, d) in _roi_band_rects(
                    w, h, lv, (x0, y0, x1, y1)):
                for y in range(b, d):
                    keep[y][a:c] = plane[y][a:c]
            rec = dwt53_inverse_2d(keep, w, h, lv)
            for y in range(y0, y1):
                assert rec[y][x0:x1] == rows[y][x0:x1], \
                    (w, h, lv, (x0, y0, x1, y1), y)

    def test_shift_is_load_bearing(self):
        """Patch SPrgn to 0 in the stream: the decode must come back
        WRONG (the signaled rect + downshift really participate)."""
        import numpy as np

        rng = np.random.default_rng(5)
        w, h = 64, 64
        px = rng.integers(0, 256, (h, w), np.uint8).tobytes()
        cs = bytearray(encode_jpx(w, h, px, 1, levels=1,
                                  roi=(0, 0, 32, 32), roi_style=1,
                                  roi_shift=6))
        rgn_at = bytes(cs).index(b"\xff\x5e")
        assert cs[rgn_at + 5] == 1  # Srgn
        cs[rgn_at + 6] = 0  # SPrgn := 0
        assert decode_jpx(bytes(cs))[2] != px

    def test_scaling_roi_composes_with_offsets_and_subsampling(self):
        """Round-11 (the interaction decline closed same-round): the
        dependency-closure mask works in ABSOLUTE coordinates — low
        coefficients sit at absolute even positions whatever the
        phase — so scaling ROI composes with odd canvas offsets,
        tiling, and per-component subsampling (the region divides to
        component coordinates like maxshift's). Bit-exact."""
        import numpy as np

        px = bytes((x * 7 + y * 13) % 256
                   for y in range(48) for x in range(64))
        for off, ts in (((3, 5), (32, 32)), ((1, 0), (64, 64)),
                        ((7, 7), (16, 16))):
            cs = encode_jpx(64, 48, px, 1, levels=2,
                            roi=(10, 8, 40, 30), roi_style=1,
                            roi_shift=5, image_offset=off,
                            tile_size=ts)
            assert decode_jpx(cs)[2] == px, (off, ts)
            # maxshift at offsets too (magnitude-based decode rule
            # is mask-free, so the phase never mattered for it)
            cs = encode_jpx(64, 48, px, 1, levels=2,
                            roi=(10, 8, 40, 30), image_offset=off,
                            tile_size=ts)
            assert decode_jpx(cs)[2] == px, ("maxshift", off, ts)
        rng = np.random.default_rng(9)
        rgb = rng.integers(0, 256, (32, 40, 3), np.uint8).tobytes()
        for off in ((0, 0), (3, 1)):
            kw = dict(mct=False,
                      subsampling=((1, 1), (2, 2), (2, 2)),
                      image_offset=off, tile_size=(64, 64))
            with_roi = decode_jpx(encode_jpx(
                40, 32, rgb, 3, levels=2, roi=(8, 8, 30, 24),
                roi_style=1, roi_shift=4, **kw))[2]
            without = decode_jpx(encode_jpx(40, 32, rgb, 3,
                                            levels=2, **kw))[2]
            # ROI scaling must be TRANSPARENT on the lossless path
            assert with_roi == without, off

    def test_phase_aware_roi_mask_is_dependency_closure(self):
        """The absolute-coordinate closure at RANDOM origins: zero
        everything outside the band rects, inverse-transform at the
        same origin, and the ROI samples reconstruct exactly."""
        import random

        from pdf2dataset_spark.sources.jpx import (
            _roi_band_rects, dwt53_forward_2d, dwt53_inverse_2d)

        rnd = random.Random(11)
        for _ in range(40):
            w, h = rnd.randint(1, 40), rnd.randint(1, 40)
            lv = rnd.randint(0, 4)
            org = (rnd.randint(0, 9), rnd.randint(0, 9))
            x0 = rnd.randint(0, w - 1); x1 = rnd.randint(x0 + 1, w)
            y0 = rnd.randint(0, h - 1); y1 = rnd.randint(y0 + 1, h)
            rows = [[rnd.randint(-128, 127) for _ in range(w)]
                    for _ in range(h)]
            plane = dwt53_forward_2d([r[:] for r in rows], lv, org)
            keep = [[0] * w for _ in range(h)]
            for (a, b, c, d) in _roi_band_rects(
                    w, h, lv, (x0, y0, x1, y1), org):
                for y in range(b, d):
                    keep[y][a:c] = plane[y][a:c]
            rec = dwt53_inverse_2d(keep, w, h, lv, org)
            for y in range(y0, y1):
                assert rec[y][x0:x1] == rows[y][x0:x1], \
                    (w, h, lv, org, (x0, y0, x1, y1), y)


class TestCanvasOffsetsAndCoc:
    """Round-8 close of the last two JPX declines: SIZ canvas
    offsets (XO/YO/XTO/YTO, B.3) with canvas-anchored precinct and
    code-block grids (B.6/B.7), and per-component / per-tile COC
    coding styles (A.6.2)."""

    @staticmethod
    def _px(w, h, seed=3):
        return bytes((x * 7 + y * 13 + seed) % 256
                     for y in range(h) for x in range(w))

    def test_image_offset_roundtrip(self):
        w, h = 100, 60
        px = self._px(w, h)
        cs = encode_jpx(w, h, px, 1, levels=2, image_offset=(8, 4))
        gw, gh, out = decode_jpx(cs)
        assert (gw, gh) == (w, h)
        assert out == px

    def test_offset_tiled_precincts_roundtrip(self):
        # misaligned tile-resolution origins against the 2^7 precinct
        # grid: the old named decline, now decoded via canvas
        # anchoring (partial first windows + partial edge blocks)
        w, h = 200, 120
        px = self._px(w, h)
        cs = encode_jpx(w, h, px, 1, levels=1, image_offset=(64, 32),
                        tile_size=(128, 128), precincts=(7, 7))
        assert decode_jpx(cs)[2] == px

    def test_tile_grid_offset_roundtrip(self):
        w, h = 200, 120
        px = self._px(w, h)
        cs = encode_jpx(w, h, px, 1, levels=2, image_offset=(64, 64),
                        tile_offset=(32, 32), tile_size=(128, 64),
                        precincts=(7, 7), layers=2, prog=2,
                        sop=True, eph=True)
        assert decode_jpx(cs)[2] == px

    def test_phase_shifting_offsets_roundtrip(self):
        """Round-10 (verdict ask #6): canvas origins that are NOT
        multiples of 2^levels — including fully ODD XO/YO — decode
        bit-exact (the round-9 named decline). The DWT lifting
        phase, the band dims/origins (B-15) and the precinct/
        code-block anchoring (B.6/B.7) all follow the absolute
        origin."""
        for xo, yo, lv in ((2, 0, 2), (1, 0, 1), (0, 3, 2),
                           (5, 7, 2), (1, 1, 3), (9, 3, 3)):
            w, h = 64, 48
            px = self._px(w, h, seed=xo * 31 + yo)
            cs = encode_jpx(w, h, px, 1, levels=lv,
                            image_offset=(xo, yo))
            gw, gh, out = decode_jpx(cs)
            assert (gw, gh) == (w, h), (xo, yo, lv)
            assert out == px, (xo, yo, lv)

    def test_odd_offset_tiled_multilayer_roundtrip(self):
        """Odd origins through the hard paths together: tiling (odd
        tile-component origins per tile), 2^7 precincts, two layers,
        RPCL progression, SOP/EPH resync."""
        w, h = 150, 90
        px = self._px(w, h, seed=41)
        cs = encode_jpx(w, h, px, 1, levels=2, image_offset=(3, 5),
                        tile_size=(64, 64), precincts=(7, 7),
                        layers=2, prog=2, sop=True, eph=True)
        assert decode_jpx(cs)[2] == px

    def test_odd_offset_rgb_mct_roundtrip(self):
        w, h = 37, 29
        rgb = bytes((x * 5 + y * 11 + c * 43) % 256
                    for y in range(h) for x in range(w)
                    for c in range(3))
        cs = encode_jpx(w, h, rgb, 3, levels=2, mct=True,
                        image_offset=(7, 1))
        assert decode_jpx(cs)[2] == rgb

    def test_odd_offset_band_geometry_matches_b15(self):
        """Band dims/origins from the INDEPENDENT B-15 closed form
        (tbx0 = ceil((tcx0 - 2^(lev-1)·xob)/2^lev)) — not from the
        engine's iterated-halving code path — for a spread of odd
        origins. Guards the geometry against a self-consistent
        wrong derivation (the round-9 B.10 lesson)."""
        import math

        from pdf2dataset_spark.sources import jpx

        def b15(tc0, tc1, lev, ob):
            lo = math.ceil((tc0 - (1 << (lev - 1)) * ob) / (1 << lev))
            hi = math.ceil((tc1 - (1 << (lev - 1)) * ob) / (1 << lev))
            return lo, hi - lo

        for x0, y0, w, h, lv in ((1, 0, 13, 7, 2), (5, 3, 20, 9, 3),
                                 (7, 7, 8, 8, 2), (2, 1, 31, 17, 4)):
            for r in range(1, lv + 1):
                lev = lv - r + 1
                bands = jpx._bands_for_resolution(
                    w, h, lv, r, (x0, y0))
                origs = jpx._band_abs_origins(w, h, lv, r, (x0, y0))
                for (name, _, _, bw, bh), (abx, aby) in zip(
                        bands, origs):
                    xob = 1 if name in ("HL", "HH") else 0
                    yob = 1 if name in ("LH", "HH") else 0
                    ex0, ew = b15(x0, x0 + w, lev, xob)
                    ey0, eh = b15(y0, y0 + h, lev, yob)
                    assert (bw, bh) == (ew, eh), (name, x0, y0, r)
                    assert (abx, aby) == (ex0, ey0), (name, x0, y0, r)

    def test_main_coc_levels_roundtrip(self):
        w, h = 96, 64
        rgb = bytes((x + y + c * 31) % 256 for y in range(h)
                    for x in range(w) for c in range(3))
        cs = encode_jpx(w, h, rgb, 3, levels=3, mct=True,
                        coc={1: 1, 2: 2})
        assert decode_jpx(cs)[2] == rgb

    def test_tile_coc_roundtrip(self):
        w, h = 120, 96
        px = self._px(w, h)
        cs = encode_jpx(w, h, px, 1, levels=2, tile_size=(64, 64),
                        tile_coc={1: {0: 0}, 2: {0: 1}})
        assert decode_jpx(cs)[2] == px

    def test_tile_coc_with_offset_and_precincts(self):
        w, h = 162, 20
        px = self._px(w, h)
        cs = encode_jpx(w, h, px, 1, levels=2, prog=2,
                        image_offset=(8, 4), tile_offset=(4, 0),
                        tile_size=(128, 64), precincts=(7, 7),
                        tile_coc={1: {0: 1}})
        assert decode_jpx(cs)[2] == px

    def test_coc_layers_progressions(self):
        w, h = 96, 48
        px = self._px(w, h)
        for prog in range(5):
            cs = encode_jpx(w, h, px, 1, levels=2, layers=3,
                            prog=prog, coc={0: 1})
            assert decode_jpx(cs)[2] == px, f"prog {prog}"

    def test_coding_marker_in_later_tile_part_rejected(self):
        w, h = 64, 64
        px = self._px(w, h)
        cs = encode_jpx(w, h, px, 1, levels=1, layers=2, tile_parts=2)
        # splice a COD into the SECOND tile-part's header
        import struct as _s
        first = cs.index(b"\xff\x90")
        second = cs.index(b"\xff\x90", first + 2)
        lsot = _s.unpack_from(">H", cs, second + 2)[0]
        at = second + 2 + lsot
        cod = bytes([0, 0]) + _s.pack(">H", 1) + bytes([0, 1, 4, 4, 0, 1])
        data = bytearray(cs)
        data[at:at] = b"\xff\x52" + _s.pack(">H", len(cod) + 2) + cod
        # keep Psot consistent: easier to just expect a parse error
        with pytest.raises(JPXError):
            decode_jpx(bytes(data))

    def test_inconsistent_offsets_rejected(self):
        w, h = 64, 64
        px = self._px(w, h)
        with pytest.raises(JPXError, match="offsets"):
            encode_jpx(w, h, px, 1, levels=0, image_offset=(0, 4),
                       tile_offset=(0, 8), tile_size=(64, 64))

    def test_empty_coarse_resolution_has_no_precincts(self):
        """B-16 (round-11 advice): a tiny odd-origin tile-component
        can have an EMPTY resolution grid (tcx0=1, tcx1=2 at s=1
        gives trx0=trx1=1) — numprecincts is then 0 and the packet
        walk carries NO packets for that resolution, instead of a
        clamped phantom precinct that would desync a spec-conforming
        third-party stream."""
        from pdf2dataset_spark.sources.jpx import _precinct_info

        pinfo = _precinct_info([(1, 5)], 1, None, [(1, 1)],
                               origins=[(1, 1)])
        # r=0: trx0 = trx1 = ceil(1/2) = 1 in x -> empty -> 0 packets
        assert pinfo[(0, 0)][:2] == (0, 0)
        assert pinfo[(1, 0)][:2] == (1, 1)

    def test_empty_coarse_resolution_roundtrips(self):
        """End-to-end: 1-px-wide and 1x1 images at odd canvas origins
        whose coarse resolutions are empty encode with no packets
        there and decode bit-exact."""
        for w, h, off, lv in ((1, 5, (1, 1), 1), (1, 1, (1, 3), 2),
                              (2, 7, (1, 0), 2)):
            px = self._px(w, h, seed=lv)
            cs = encode_jpx(w, h, px, 1, levels=lv, image_offset=off,
                            tile_size=(16, 16))
            gw, gh, out = decode_jpx(cs)
            assert (gw, gh) == (w, h), (w, h, off, lv)
            assert out == px, (w, h, off, lv)


class TestOffsetCocFuzz:
    def test_bitflip_fuzz_clean_errors_only(self):
        """Crash-freedom on the round-8 surface: bit-flipped canvas-
        offset + per-tile-COC streams either decode or raise the
        declared error types — never hang or leak foreign
        exceptions."""
        import random
        import struct as _struct

        px = bytes((x * 7 + y * 13) % 256
                   for y in range(40) for x in range(162))
        cs = encode_jpx(162, 40, px, 1, levels=2, prog=2,
                        image_offset=(8, 4), tile_offset=(4, 0),
                        tile_size=(128, 64), precincts=(7, 7),
                        tile_coc={1: {0: 1}})
        rng = random.Random(7)
        for _ in range(150):
            data = bytearray(cs)
            for _ in range(rng.randint(1, 4)):
                data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
            try:
                decode_jpx(bytes(data))
            except (JPXError, ValueError, IndexError, KeyError,
                    OverflowError, _struct.error):
                pass


class TestMultiComponentColor:
    """Round-11: 4-component CMYK (JP2 colr EnumCS 12) and
    2-component gray+opacity decode — the former silent-first-3 /
    decline shapes."""

    def _rand(self, n, seed=7):
        import numpy as np

        return np.random.default_rng(seed).integers(
            0, 256, size=n, dtype=np.uint8
        ).tobytes()

    def test_cmyk_bitwise_against_replica(self):
        import numpy as np

        w, h = 23, 17
        cmyk = self._rand(w * h * 4)
        data = encode_jpx(w, h, cmyk, 4, mct=False, levels=2, jp2=True)
        ww, hh, px = decode_jpx(data)
        assert (ww, hh) == (w, h) and len(px) == w * h * 3
        arr = np.frombuffer(cmyk, np.uint8).reshape(-1, 4).astype(
            np.float64)
        kk = 255.0 - arr[:, 3]
        exp = np.clip(np.round(np.stack(
            [(255.0 - arr[:, 0]) * kk, (255.0 - arr[:, 1]) * kk,
             (255.0 - arr[:, 2]) * kk], axis=-1) / 255.0),
            0, 255).astype(np.uint8)
        assert np.array_equal(
            np.frombuffer(px, np.uint8).reshape(-1, 3), exp)

    def test_k_only_text_reconstructs_gray(self):
        import numpy as np

        from pdf2dataset_spark.sources import raster

        w, h, px = raster._rasterize("CMYK K PLANE")
        px = bytes(px)
        cmyk = bytes(b for v in px for b in (0, 0, 0, 255 - v))
        ww, hh, out = decode_jpx(
            encode_jpx(w, h, cmyk, 4, mct=False, levels=2, jp2=True))
        rgb = np.frombuffer(out, np.uint8).reshape(h, w, 3)
        assert np.array_equal(
            rgb[..., 0],
            np.frombuffer(px, np.uint8).reshape(h, w))
        assert np.array_equal(rgb[..., 0], rgb[..., 1])
        assert np.array_equal(rgb[..., 0], rgb[..., 2])

    def test_gray_alpha_drops_opacity(self):
        import numpy as np

        w, h = 19, 13
        ga = self._rand(w * h * 2)
        ww, hh, px = decode_jpx(
            encode_jpx(w, h, ga, 2, mct=False, levels=1, jp2=True))
        assert len(px) == w * h
        assert np.array_equal(
            np.frombuffer(px, np.uint8),
            np.frombuffer(ga, np.uint8)[0::2])

    def test_raw_codestream_four_components_first_three(self):
        import numpy as np

        # no JP2 colr box -> no CMYK claim: the first three
        # components are the color channels (RGBA-style convention)
        w, h = 11, 9
        quad = self._rand(w * h * 4)
        ww, hh, px = decode_jpx(
            encode_jpx(w, h, quad, 4, mct=False, jp2=False))
        assert np.array_equal(
            np.frombuffer(px, np.uint8).reshape(-1, 3),
            np.frombuffer(quad, np.uint8).reshape(-1, 4)[:, :3])

    def test_mct_with_four_components_raises_in_encoder(self):
        with pytest.raises(JPXError):
            encode_jpx(4, 4, bytes(64), 4, mct=True)

    def test_lossy_path_stays_three_component(self):
        with pytest.raises(JPXError):
            encode_jpx(4, 4, bytes(64), 4, mct=False, irreversible=True)
