"""Mutation fuzz over the image codecs' decode surfaces.

At corpus scale every decoder sees corrupt bytes; the contract is:
decode either succeeds or raises a ValueError-family error that the
extraction layer's error capture turns into an error row — never an
unexpected exception class, never a hang. This suite authors valid
streams with the repo's own encoders, then mutates/truncates them and
asserts that contract. (Pure-codec: no Spark.)

The time budget per decode guards the MQ-feeds-1-bits-forever class:
a mutated stream must fail or finish fast, not spin (the
symbol-dictionary progress guards exist because of exactly this)."""

import random
import struct
import time

import pytest

from pdf2dataset_spark.sources import ccitt, jbig2, jpeg, jpx

_BUDGET_S = 20.0  # generous: slow machines, dense mutated bitmaps
struct_error = struct.error


def _contract(decode, payloads, rng, n_mutations):
    """Run decode over mutated payloads; ValueError-family or success
    only, within the time budget."""
    for base in payloads:
        cases = []
        for _ in range(n_mutations):
            b = bytearray(base)
            op = rng.randrange(3)
            if op == 0 and len(b) > 1:  # flip bytes
                for _ in range(rng.randrange(1, 4)):
                    b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            elif op == 1:  # truncate
                b = b[: rng.randrange(1, len(b))]
            else:  # splice garbage
                at = rng.randrange(len(b))
                b[at:at] = bytes(
                    rng.randrange(256) for _ in range(rng.randrange(1, 9))
                )
            cases.append(bytes(b))
        for data in cases:
            t0 = time.monotonic()
            try:
                decode(data)
            except ValueError:
                pass  # JBIG2Error/JPXError/plain ValueError: the contract
            except (IndexError, KeyError, struct_error, EOFError):
                # tolerated: the extraction layer catches these too
                pass
            took = time.monotonic() - t0
            assert took < _BUDGET_S, f"decode took {took:.1f}s on mutation"


class TestJBIG2Fuzz:
    def test_mutated_streams_fail_cleanly(self):
        rng = random.Random(101)
        bm = [
            bytearray(1 if rng.random() < 0.3 else 0 for _ in range(40))
            for _ in range(25)
        ]
        glyph = [bytearray([1, 1, 1]), bytearray([1, 0, 1])]
        text, _ = jbig2.encode_text_page(
            [glyph, [bytearray([1, 1])]], [(0, 2, 2), (1, 10, 5)], 30, 12
        )
        huff_u, _ = jbig2.encode_huffman_text_page(
            [glyph, [bytearray([1, 1])]], [(0, 2, 2), (1, 10, 5)], 30, 12
        )
        huff_m, _ = jbig2.encode_huffman_text_page(
            [glyph, [bytearray([1, 1])]], [(0, 2, 2), (1, 10, 5)], 30, 12,
            collective="mmr", custom_dw=True,
        )
        payloads = [
            jbig2.encode_generic_page(bm),
            jbig2.encode_generic_page(bm, template=2, tpgdon=True),
            jbig2.encode_generic_page(bm, mmr=True),
            text,
            huff_u,
            huff_m,
        ]
        # bound the work a mutated-but-valid header can demand: the
        # budget asserts NO-PROGRESS loops, not large bounded decodes
        # (the max_pixels knob is the production cap for that)
        def decode(data):
            return jbig2.decode_jbig2_gray(data, max_pixels=1 << 22)

        _contract(decode, payloads, rng, 40)


class TestJPXFuzz:
    def test_mutated_streams_fail_cleanly(self):
        rng = random.Random(202)
        px = bytes(rng.randrange(256) for _ in range(24 * 18))
        rgb = bytes(rng.randrange(256) for _ in range(16 * 12 * 3))
        payloads = [
            jpx.encode_jpx(24, 18, px, 1, levels=2),
            jpx.encode_jpx(24, 18, px, 1, levels=2, jp2=True),
            jpx.encode_jpx(16, 12, rgb, 3, levels=1),
            jpx.encode_jpx(24, 18, px, 1, levels=2, irreversible=True),
            jpx.encode_jpx(16, 12, rgb, 3, levels=1, irreversible=True,
                           quant_style="derived"),
            jpx.encode_jpx(24, 18, px, 1, levels=2, layers=3,
                           tile_size=(12, 9), sop=True, eph=True),
            # every code-block style bit: per-pass segments, raw
            # passes, reset, causal contexts, segmentation symbols
            jpx.encode_jpx(24, 18, px, 1, levels=2, cbstyle=0x3F),
            jpx.encode_jpx(24, 18, px, 1, levels=2, bypass=True,
                           layers=3),
        ]
        _contract(jpx.decode_jpx, payloads, rng, 40)

    def test_mutated_odd_offset_streams_fail_cleanly(self):
        """Round-10: the phase-aware canvas-offset paths (odd XO/YO
        through 5/3 AND 9/7, odd per-tile origins, per-band
        anchoring) under the same mutation contract — typed errors
        or a decode, never a hang/crash. Includes direct SIZ-offset
        patching so the decoder sees offsets the encoder never
        produced (arbitrary phases against a mismatched body)."""
        import struct

        rng = random.Random(206)
        px = bytes(rng.randrange(256) for _ in range(32 * 24))
        payloads = [
            jpx.encode_jpx(32, 24, px, 1, levels=2,
                           image_offset=(3, 5)),
            jpx.encode_jpx(32, 24, px, 1, levels=3,
                           image_offset=(1, 1), tile_size=(16, 16),
                           precincts=(7, 7), prog=2),
            jpx.encode_jpx(32, 24, px, 1, levels=2,
                           irreversible=True, quality_bits=8,
                           image_offset=(7, 3), tile_size=(24, 16)),
            # round-10 late: small signaled blocks + clamping
            # precincts (effective 8x8 blocks at r>0)
            jpx.encode_jpx(32, 24, px, 1, levels=2, cb_exp=(4, 4)),
            jpx.encode_jpx(32, 24, px, 1, levels=2,
                           precincts=(4, 4), prog=2, layers=2),
        ]
        _contract(jpx.decode_jpx, payloads, rng, 40)
        # SIZ-patched phases: rewrite XOsiz/YOsiz (and Xsiz/Ysiz to
        # keep the area non-empty) on a valid zero-offset stream —
        # body geometry no longer matches; must fail typed or decode
        base = jpx.encode_jpx(32, 24, px, 1, levels=2)
        at = base.index(b"\xff\x51") + 4
        for xo, yo in ((1, 0), (2, 3), (5, 5), (31, 23)):
            cs = bytearray(base)
            xs = struct.unpack_from(">I", cs, at + 2)[0]
            ys = struct.unpack_from(">I", cs, at + 6)[0]
            struct.pack_into(">I", cs, at + 2, xs + xo)
            struct.pack_into(">I", cs, at + 6, ys + yo)
            struct.pack_into(">I", cs, at + 10, xo)
            struct.pack_into(">I", cs, at + 14, yo)
            try:
                jpx.decode_jpx(bytes(cs))
            except jpx.JPXError:
                pass  # typed failure is the contract


class TestCcittFuzz:
    def test_mutated_streams_fail_cleanly(self):
        rng = random.Random(303)
        px = bytes(0 if rng.random() < 0.3 else 255 for _ in range(48 * 20))
        payloads = [
            ccitt.encode_g4(px, 48, 20),
            ccitt.encode_g3_1d(px, 48, 20),
        ]

        def decode(data):
            ccitt.decode_ccitt_gray(data, k=-1, columns=48, rows=20)
            ccitt.decode_ccitt_gray(data, k=0, columns=48, rows=20)

        _contract(decode, payloads, rng, 40)

    def test_unknown_run_table_raises(self):
        # an explicit raise, not an assert: the check holds under -O
        with pytest.raises(ValueError, match="unknown CCITT run table"):
            ccitt._read_run(ccitt._Bits(b"\x00\x00"), {}, "grey")


class TestJpegFuzz:
    def test_mutated_streams_fail_cleanly(self):
        rng = random.Random(404)
        px = bytes(rng.randrange(256) for _ in range(32 * 16))
        cmyk = bytes(rng.randrange(256) for _ in range(16 * 12 * 4))
        payloads = [
            jpeg.encode_jpeg(32, 16, px, quality=80),
            jpeg.encode_jpeg_progressive(32, 16, px, quality=80),
            jpeg.encode_jpeg(16, 12, cmyk, quality=80, ncomp=4),
            jpeg.encode_jpeg(16, 12, cmyk, quality=80, ncomp=4,
                             adobe_transform=2),
            jpeg.encode_jpeg12_cmyk(
                16, 12,
                [(i * 131) % 4096 for i in range(16 * 12 * 4)],
            ),
        ]
        _contract(jpeg.decode_jpeg, payloads, rng, 40)


class TestDecodeBudgets:
    """Crafted-header resource-exhaustion guards (the jbig2/jpx
    _MAX_PIXELS invariant, extended to ccitt/jpeg/sfnt this round):
    a tiny hostile payload must raise, fast, instead of materializing
    gigabytes."""

    def test_ccitt_huge_columns_unbounded_rows(self):
        # ~64 bytes of V0 codes (1 bit/row against an all-white ref)
        # with /Columns=50M and no /Rows: must hit the pixel budget,
        # not allocate Columns bytes per decoded row.
        t0 = time.monotonic()
        try:
            ccitt.decode_ccitt_gray(b"\xff" * 64, k=-1, columns=50_000_000)
        except ValueError as e:
            assert "pixel" in str(e)
        else:
            raise AssertionError("expected pixel-budget ValueError")
        assert time.monotonic() - t0 < 2.0

    def test_ccitt_huge_declared_dims_fail_fast(self):
        for k in (-1, 0, 1):
            t0 = time.monotonic()
            try:
                ccitt.decode_ccitt_gray(
                    b"\x00" * 16, k=k, columns=1 << 20, rows=1 << 20
                )
            except ValueError as e:
                assert "pixel" in str(e)
            else:
                raise AssertionError("expected pixel-budget ValueError")
            assert time.monotonic() - t0 < 1.0

    def test_ccitt_legit_blank_page_still_decodes(self):
        # A real blank fax page: 1728 cols x 1100 rows of V0 codes.
        enc = ccitt.encode_g4(b"\xff" * (1728 * 64), 1728, 64)
        w, h, px = ccitt.decode_ccitt_gray(enc, k=-1, columns=1728)
        assert (w, h) == (1728, 64) and set(px) == {255}

    def test_jpeg_sof_dims_bounded(self):
        # Valid-prefix JPEG whose SOF declares 65535x65535x3 (~17 GB
        # of int32 coefficients per component): reject at SOF parse.
        sof = struct.pack(
            ">HHBHHB", 0xFFC0, 8 + 9, 8, 65535, 65535, 3
        ) + bytes((1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0))
        data = b"\xff\xd8" + sof + b"\xff\xd9"
        t0 = time.monotonic()
        try:
            jpeg.decode_jpeg(data)
        except ValueError as e:
            assert "pixel" in str(e) or "bound" in str(e)
        else:
            raise AssertionError("expected SOF-budget ValueError")
        assert time.monotonic() - t0 < 1.0

    def test_jpeg_lossless_sof3_dims_bounded(self):
        sof = struct.pack(
            ">HHBHHB", 0xFFC3, 8 + 3, 8, 65535, 65535, 1
        ) + bytes((1, 0x11, 0))
        data = b"\xff\xd8" + sof + b"\xff\xd9"
        try:
            jpeg.decode_jpeg(data)
        except ValueError as e:
            assert "pixel" in str(e) or "bound" in str(e)
        else:
            raise AssertionError("expected SOF-budget ValueError")

    @staticmethod
    def _format12_font(groups):
        sub = struct.pack(
            ">HHIII", 12, 0, 16 + 12 * len(groups), 0, len(groups)
        )
        for s, e, g in groups:
            sub += struct.pack(">III", s, e, g)
        cmap = (
            struct.pack(">HH", 0, 1)
            + struct.pack(">HHI", 3, 10, 12)
            + sub
        )
        font = struct.pack(">IHHHH", 0x00010000, 1, 0, 0, 0)
        font += b"cmap" + struct.pack(">III", 0, 28, len(cmap))
        return font + cmap

    def test_sfnt_format12_group_span_bounded(self):
        from pdf2dataset_spark.sources import sfnt

        # One 12-byte group claiming the whole u32 space would build
        # ~4G dict entries; spans past Unicode are dropped outright.
        t0 = time.monotonic()
        out = sfnt.unicode_to_gid(
            self._format12_font([(0, 0xFFFFFFFF, 0)])
        )
        assert out == {}
        # In-Unicode spans clamp at the 2^20 mapping budget.
        out = sfnt.unicode_to_gid(self._format12_font([(0, 0x10FFFF, 1)]))
        assert len(out) == 1 << 20
        assert out[0] == 1 and out[(1 << 20) - 1] == (1 << 20)
        assert time.monotonic() - t0 < 10.0

    def test_sfnt_format12_normal_groups_unaffected(self):
        from pdf2dataset_spark.sources import sfnt

        out = sfnt.unicode_to_gid(
            self._format12_font([(0x41, 0x5A, 10), (0x1F600, 0x1F603, 99)])
        )
        assert out[0x41] == 10 and out[0x5A] == 10 + 25
        assert out[0x1F600] == 99 and out[0x1F603] == 102
        assert len(out) == 26 + 4


class TestTilingPatternFuzz:
    """Round-10: the rational-step supersampling and depth-budgeted
    nesting paths under randomized patterns — _tiling_patch returns
    a patch or None (decline), never raises, in bounded time."""

    def test_random_steps_and_nesting_never_crash(self):
        import random
        import time

        from pdf2dataset_spark.queries.tier_a import _raw_pdf
        from pdf2dataset_spark.sources.codecs import PdfCodec

        rng = random.Random(1010)
        t0 = time.monotonic()
        for trial in range(30):
            depth = rng.randrange(1, 5)  # 1..4 chained patterns
            step_pool = ["10", "6", "6.5", "6.3", "6.25", "0.9",
                         "7.0710678118654755", "6.01", "9.875"]
            objs = []
            nobj = 5  # first pattern object number
            for d in range(depth):
                if d + 1 < depth:
                    cell = (f"/Pattern cs /Pn scn 0 0 "
                            f"{rng.randrange(2, 11)} 10 re f"
                            ).encode()
                    res = (f"/Resources << /Pattern << /Pn "
                           f"{nobj + d + 1} 0 R >> >> ").encode()
                else:
                    g = rng.choice(["0.1", "0.5", "0.8"])
                    cell = (f"{g} g 0 0 {rng.randrange(1, 11)} "
                            f"10 re f").encode()
                    res = b"/Resources << >> "
                xs = rng.choice(step_pool).encode()
                objs.append(
                    b"<< /PatternType 1 /PaintType 1 /TilingType 1 "
                    b"/BBox [0 0 10 10] /XStep " + xs +
                    b" /YStep 10 " + res +
                    b"/Length " + str(len(cell)).encode()
                    + b" >>\nstream\n" + cell + b"\nendstream")
            content = b"/Pattern cs /P1 scn 100 100 60 30 re f"
            pdf = _raw_pdf([
                b"<< /Type /Catalog /Pages 2 0 R >>",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
                b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
                b"/MediaBox [0 0 612 792] /Resources << /Pattern "
                b"<< /P1 5 0 R >> >> >>",
                b"<< /Length " + str(len(content)).encode()
                + b" >>\nstream\n" + content + b"\nendstream",
                *objs,
            ])
            codec = PdfCodec()
            doc = codec.open(pdf).doc
            pg = doc.pages()[0]
            pres = doc.resolve(pg.get("/Resources"))
            pat = doc.resolve(
                doc.resolve(pres.get("/Pattern")).get("/P1"))
            out = codec._tiling_patch(
                doc, pat, (100, 100, 160, 130), (0, 0, 612, 792))
            # contract: a 5-tuple patch or a None decline
            assert out is None or len(out) == 5, trial
        assert time.monotonic() - t0 < 30.0


class TestCompositorFuzz:
    """Round-9: the blend/soft-mask/pixel-alpha compositor paths
    under randomized inputs — output bytes stay in [0, 255], no
    exception escapes, and Normal-blend identity holds."""

    def test_random_blend_mask_alpha_never_crashes(self):
        import random

        from pdf2dataset_spark.sources import raster

        rng = random.Random(99)
        modes = ["Multiply", "Screen", "Overlay", "Darken", "Lighten",
                 "ColorDodge", "ColorBurn", "HardLight", "SoftLight",
                 "Difference", "Exclusion", "Bogus", None]
        for trial in range(40):
            W = H = 24
            n_items = rng.randrange(1, 5)
            fills, order, alphas, blends, pmasks = [], [], {}, {}, {}
            images = []
            for i in range(n_items):
                kind = rng.choice(["fills", "images"])
                if kind == "fills":
                    x0, y0 = rng.uniform(-5, 20), rng.uniform(-5, 20)
                    fills.append((x0, y0, x0 + rng.uniform(0, 15),
                                  y0 + rng.uniform(0, 15),
                                  rng.randrange(256)))
                    key = ("fills", len(fills) - 1)
                else:
                    iw, ih = rng.randrange(1, 5), rng.randrange(1, 5)
                    entry = [iw, ih,
                             bytes(rng.randrange(256)
                                   for _ in range(iw * ih)),
                             (rng.uniform(1, 10), 0.0, 0.0,
                              rng.uniform(1, 10),
                              rng.uniform(-3, 20), rng.uniform(-3, 20))]
                    if rng.random() < 0.5:
                        entry.append(None)
                        entry.append(bytes(rng.randrange(256)
                                           for _ in range(iw * ih)))
                    images.append(tuple(entry))
                    key = ("images", len(images) - 1)
                order.append(key)
                if rng.random() < 0.5:
                    alphas[key] = rng.uniform(0, 1)
                m = rng.choice(modes)
                if m:
                    blends[key] = m
                if rng.random() < 0.4:
                    pmasks[key] = bytes(rng.randrange(256)
                                        for _ in range(W * H))
                elif rng.random() < 0.1:
                    pmasks[key] = b"\x01"  # wrong length: ignored
            w, h, px = raster.compose_page(
                W, H, fills=fills, images=images, order=order,
                alphas=alphas, blends=blends, pixel_masks=pmasks,
            )
            assert (w, h) == (W, H)
            assert len(px) == W * H
            assert all(0 <= v <= 255 for v in px)

    def test_normal_blend_is_identity(self):
        from pdf2dataset_spark.sources import raster

        base = dict(fills=[(2, 2, 20, 20, 77)],
                    order=[("fills", 0)])
        _, _, a = raster.compose_page(24, 24, **base)
        _, _, b = raster.compose_page(
            24, 24, blends={("fills", 0): "Normal"}, **base)
        assert bytes(a) == bytes(b)
