"""JBIG2 Huffman regime tests (T.88 Annex B + §7.4.3/7.4.4).

The standard tables are transcriptions; every shipped one must pass
two independent self-consistency checks — the published Kraft sum
(1, a complete prefix code, for all tables except B.10, whose
published sum is 59/64) and range contiguity (normal lines tile one
range meeting the 32-bit escape lines exactly). Since round-10 all
fifteen are TRANSCRIBED (round-9's B.10 was wrongly derived by a
scaling law from B.9; the published table does not follow it —
caught by the round-9 advisor, fixed + value-pinned here).
"""

import random
import struct
from fractions import Fraction

import pytest

from pdf2dataset_spark.sources import jbig2
from pdf2dataset_spark.sources import jbig2_huffman as jh

SHIPPED = (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


class TestStandardTables:
    @pytest.mark.parametrize("idx", SHIPPED)
    def test_kraft_complete_and_contiguous(self, idx):
        tb = jh.standard_table(idx)
        expect = Fraction(59, 64) if idx == 10 else 1
        assert tb.kraft_sum() == expect
        tb.check_complete_and_contiguous(expect)

    def test_b10_published_lines(self):
        """Pin the PUBLISHED T.88 Table B.10 line values (round-10:
        replaces the wrong round-9 scaling-law derivation). This is
        a double-entry transcription check — the tuples here were
        typed independently of the source module, so a silent edit
        to either copy fails the test."""
        published = [
            (7, 4, -21), (8, 0, -5), (7, 0, -4), (5, 0, -3),
            (2, 2, -2), (5, 0, 2), (6, 0, 3), (7, 0, 4),
            (8, 0, 5), (2, 6, 6), (5, 5, 70), (6, 5, 102),
            (7, 6, 134), (8, 7, 198), (9, 8, 326), (10, 9, 582),
            (11, 10, 1094), (12, 11, 2118),
        ]
        tb = jh.standard_table(10)
        normals = [(pl, rl, lo) for pl, rl, lo, k in tb.lines
                   if k == "n"]
        assert normals == published
        assert [(pl, lo) for pl, _, lo, k in tb.lines
                if k == "l"] == [(13, -22)]
        assert [(pl, lo) for pl, _, lo, k in tb.lines
                if k == "u"] == [(13, 4166)]
        assert [pl for pl, _, _, k in tb.lines if k == "o"] == [2]

    def test_b10_canonical_codewords(self):
        """Decode hand-assigned B.3 canonical codewords (NOT an
        encoder round-trip — the codes below were derived by hand
        from the published prefix lengths: three length-2 codes
        00/01/10 for the -2 row, the 6 row, and OOB; length-5
        codes then start at 11000)."""
        tb = jh.standard_table(10)

        def dec(bits):
            pad = bits + "0" * ((8 - len(bits) % 8) % 8)
            data = bytes(int(pad[i:i + 8], 2)
                         for i in range(0, len(pad), 8))
            return tb.decode(jh.BitReader(data))

        assert dec("00" + "11") == 1        # {2,2,-2}: -2 + 0b11
        assert dec("01" + "000000") == 6    # {2,6,6}: 6 + 0
        assert dec("01" + "111111") == 69
        assert dec("10") is jh.OOB
        assert dec("11000") == -3           # first length-5 code
        assert dec("11001") == 2
        assert dec("11010" + "00000") == 70  # {5,5,70}
        # length-13 escapes: lower then upper
        assert dec("1110101111110" + "0" * 31 + "1") == -23
        assert dec("1110101111111" + "0" * 31 + "1") == 4167

    def test_b7_is_b6_positive_sibling(self):
        """B.7 shares B.6's mid-section rows and shifts the span
        to [-1024, 2048) for the first-S selection."""
        b6 = {(rl, lo) for _, rl, lo, k in jh._STD_LINES[6]
              if k == "n"}
        b7 = {(rl, lo) for _, rl, lo, k in jh._STD_LINES[7]
              if k == "n"}
        assert b7 - b6 == set()  # every B.7 range appears in B.6
        lows = [lo for _, _, lo, k in jh._STD_LINES[7] if k == "n"]
        assert min(lows) == -1024

    @pytest.mark.parametrize("idx", SHIPPED)
    def test_round_trip_every_value_class(self, idx):
        tb = jh.standard_table(idx)
        vals = set()
        for preflen, rangelen, rangelow, kind in tb.lines:
            if kind == "n":
                vals.update({rangelow, rangelow + (1 << rangelen) - 1})
            elif kind == "l":
                vals.update({rangelow, rangelow - 98765})
            elif kind == "u":
                vals.update({rangelow, rangelow + 123456})
        rng = random.Random(idx)
        seq = sorted(vals) * 2
        rng.shuffle(seq)
        if tb.oob:
            seq.insert(2, jh.OOB)
        bw = jh.BitWriter()
        for v in seq:
            tb.encode(bw, v)
        br = jh.BitReader(bw.getvalue())
        assert [tb.decode(br) for _ in seq] == seq

    def test_b1_known_codes(self):
        # B.1's first line: prefix '0', 4 range bits → value 0..15
        tb = jh.standard_table(1)
        br = jh.BitReader(bytes([0b00101000]))  # 0 + 0101 → 5
        assert tb.decode(br) == 5
        # second line: prefix '10', 8 range bits
        br = jh.BitReader(bytes([0b10000000, 0b01100000]))
        assert tb.decode(br) == 16 + 0b00000001 + 1 - 1  # 16 + 1

    def test_unrepresentable_value_raises(self):
        tb = jh.standard_table(14)  # covers only [-2, 2]
        bw = jh.BitWriter()
        with pytest.raises(jh.JBIG2Error):
            tb.encode(bw, 7)
        with pytest.raises(jh.JBIG2Error):
            tb.encode(bw, jh.OOB)  # B.14 has no OOB line


class TestCustomTables:
    def test_build_parse_round_trip(self):
        seg = jh.build_table_segment(
            [(2, 1), (2, 2), (2, 3)], -3, 11, lower_len=3, upper_len=3
        )
        tb = jh.parse_table_segment(seg)
        tb.check_complete_and_contiguous()
        vals = [-3, -2, -1, 0, 5, 10, -50, 11, 400, -4]
        bw = jh.BitWriter()
        for v in vals:
            tb.encode(bw, v)
        br = jh.BitReader(bw.getvalue())
        assert [tb.decode(br) for _ in vals] == vals

    def test_oob_line(self):
        seg = jh.build_table_segment(
            [(2, 2), (2, 3), (3, 4), (3, 5)], -16, 44,
            lower_len=4, upper_len=4, oob_len=3,
        )
        tb = jh.parse_table_segment(seg)
        assert tb.oob
        bw = jh.BitWriter()
        tb.encode(bw, jh.OOB)
        tb.encode(bw, -16)
        br = jh.BitReader(bw.getvalue())
        assert tb.decode(br) is jh.OOB
        assert tb.decode(br) == -16

    def test_malformed_segments_raise(self):
        with pytest.raises(jh.JBIG2Error):
            jh.parse_table_segment(b"\x00\x00")  # truncated
        # HTLOW > HTHIGH
        bad = bytes([0]) + struct.pack(">ii", 5, -5) + b"\x00"
        with pytest.raises(jh.JBIG2Error):
            jh.parse_table_segment(bad)


class TestSymbolIdCodes:
    def test_write_read_round_trip(self):
        for n in (1, 2, 5, 33, 100):
            bw = jh.BitWriter()
            tb1 = jh.write_symbol_id_codes(bw, n)
            br = jh.BitReader(bw.getvalue())
            tb2 = jh.read_symbol_id_codes(br, n)
            ids = [0, n - 1, n // 2]
            bw2 = jh.BitWriter()
            for s in ids:
                tb1.encode(bw2, s)
            br2 = jh.BitReader(bw2.getvalue())
            assert [tb2.decode(br2) for _ in ids] == ids

    def test_runcode_repeats(self):
        # hand-built runcode stream: runcode-3 has length 1,
        # runcode-32 (repeat prev) has length 2, covering 8 symbols
        # as 3,3,3,3 (32 with rep=4→ bits 01) then 3,3,3,3 again
        bw = jh.BitWriter()
        lens = [0] * 35
        lens[3] = 1
        lens[32] = 2
        for v in lens:
            bw.bits(v, 4)
        # canonical: runcode3 → '0', runcode32 → '10'
        bw.bit(0)              # symbol 0: len 3
        bw.bits(0b10, 2)       # runcode 32
        bw.bits(0b01, 2)       # repeat 3+1=4 more → symbols 1-4
        bw.bits(0b10, 2)       # runcode 32 again
        bw.bits(0b00, 2)       # repeat 3 more → symbols 5-7
        br = jh.BitReader(bw.getvalue())
        tb = jh.read_symbol_id_codes(br, 8)
        # all 8 symbols got length 3 → canonical codes 0..7 in 3 bits
        bw2 = jh.BitWriter()
        for s in (0, 7, 4):
            tb.encode(bw2, s)
        br2 = jh.BitReader(bw2.getvalue())
        assert [tb.decode(br2) for _ in range(3)] == [0, 7, 4]

    def test_overrun_raises(self):
        bw = jh.BitWriter()
        lens = [0] * 35
        lens[33] = 1  # emits 3..10 zeros per hit
        lens[1] = 2
        for v in lens:
            bw.bits(v, 4)
        bw.bit(0)
        bw.bits(0b111, 3)  # 10 zeros > nsyms=2
        br = jh.BitReader(bw.getvalue())
        with pytest.raises(jh.JBIG2Error):
            jh.read_symbol_id_codes(br, 2)


def _expected_canvas(glyphs, places, w, h):
    exp = [bytearray(w) for _ in range(h)]
    for si, x, y in places:
        for yy, r in enumerate(glyphs[si]):
            for xx, b in enumerate(r):
                if b:
                    exp[y + yy][x + xx] |= 1
    return exp


class TestHuffmanPage:
    GLYPHS = [
        [bytearray([1, 1, 1]), bytearray([1, 0, 1]), bytearray([1, 1, 1])],
        [bytearray([0, 1, 0]), bytearray([1, 1, 1])],
        [bytearray([1, 0, 0, 1]), bytearray([0, 1, 1, 0]),
         bytearray([1, 0, 0, 1])],
    ]
    PLACES = [(0, 2, 2), (1, 12, 3), (2, 20, 5), (0, 30, 9),
              (1, 44, 15), (2, 8, 9)]

    @pytest.mark.parametrize("collective", ["uncompressed", "mmr"])
    @pytest.mark.parametrize("custom_dw", [False, True])
    @pytest.mark.parametrize("split", [False, True])
    def test_page_round_trip(self, collective, custom_dw, split):
        data, g = jbig2.encode_huffman_text_page(
            self.GLYPHS, self.PLACES, 50, 21,
            collective=collective, custom_dw=custom_dw,
            split_globals=split,
        )
        w, h, rows = jbig2.decode_embedded(data, g)
        assert (w, h) == (50, 21)
        exp = _expected_canvas(self.GLYPHS, self.PLACES, 50, 21)
        assert [bytes(r) for r in rows] == [bytes(r) for r in exp]

    def test_matches_arithmetic_page(self):
        """The two entropy regimes must reconstruct the SAME page."""
        data_h, _ = jbig2.encode_huffman_text_page(
            self.GLYPHS, self.PLACES, 50, 21
        )
        data_a, _ = jbig2.encode_text_page(
            self.GLYPHS, [(s, x, y) for s, x, y in self.PLACES], 50, 21
        )
        _, _, rows_h = jbig2.decode_embedded(data_h)
        _, _, rows_a = jbig2.decode_embedded(data_a)
        assert [bytes(r) for r in rows_h] == [bytes(r) for r in rows_a]

    def test_random_pages_round_trip(self):
        rng = random.Random(77)
        for _ in range(10):
            n = rng.randrange(1, 6)
            glyphs = []
            for _ in range(n):
                gw, gh = rng.randrange(1, 9), rng.randrange(1, 7)
                glyphs.append([
                    bytearray(rng.randrange(2) for _ in range(gw))
                    for _ in range(gh)
                ])
            w, h = 60, 40
            places = []
            for _ in range(rng.randrange(1, 12)):
                si = rng.randrange(n)
                gw = len(glyphs[si][0])
                gh = len(glyphs[si])
                places.append((si, rng.randrange(0, w - gw),
                               rng.randrange(0, h - gh)))
            collective = rng.choice(["uncompressed", "mmr"])
            data, _ = jbig2.encode_huffman_text_page(
                glyphs, places, w, h, collective=collective
            )
            _, _, rows = jbig2.decode_embedded(data)
            exp = _expected_canvas(glyphs, places, w, h)
            assert [bytes(r) for r in rows] == [bytes(r) for r in exp]

    def test_missing_custom_table_raises(self):
        data, _ = jbig2.encode_huffman_text_page(
            self.GLYPHS, self.PLACES, 50, 21, custom_dw=True
        )
        # strip the table segment: re-parse and drop segment 1
        segs = jbig2.parse_segments(data)
        out = bytearray()
        for seg in segs:
            if seg.type == jbig2.SEG_TABLES:
                continue
            out += jbig2._segment_header(
                seg.number, seg.type, seg.page, len(seg.data),
                refs=tuple(seg.refs),
            ) + seg.data
        with pytest.raises(jh.JBIG2Error):
            jbig2.decode_embedded(bytes(out))

    def test_huffman_refagg_dict_truncated_is_malformed(self):
        # SDHUFF | SDREFAGG now DECODES (round 8) — a dictionary
        # with the flags but a truncated body is a malformed stream,
        # not an unsupported regime
        page_info = (struct.pack(">IIII", 8, 8, 0, 0) + bytes([0])
                     + struct.pack(">H", 0))
        sd = struct.pack(">H", 3)  # SDHUFF | SDREFAGG
        stream = (
            jbig2._segment_header(
                0, jbig2.SEG_PAGE_INFO, 1, len(page_info)
            ) + page_info
            + jbig2._segment_header(1, jbig2.SEG_SYMBOL_DICT, 1, len(sd))
            + sd
        )
        with pytest.raises(jh.JBIG2Error):
            jbig2.decode_embedded(stream)


class TestHuffmanRefAggDictionary:
    """§6.5.8.2 with SDHUFF=1 (round-8 close): refinement-coded
    dictionary symbols — REFAGGNINST via B.1, raw-bit pool ID, B.15
    deltas, B.1 BMSIZE, byte-aligned embedded MQ refinement."""

    @staticmethod
    def _fixture():
        ring = [bytearray([1, 1, 1]), bytearray([1, 0, 1]),
                bytearray([1, 1, 1])]
        box = [bytearray([1, 1, 1, 1]) for _ in range(4)]
        t1 = [bytearray([1, 1, 1, 0, 0]), bytearray([1, 0, 1, 0, 0]),
              bytearray([1, 1, 1, 1, 1]), bytearray([0, 0, 0, 0, 1])]
        t2 = [bytearray([1, 1, 0]), bytearray([1, 1, 0]),
              bytearray([0, 0, 1])]
        return [ring, box], [(0, t1, 0, 0), (1, t2, 1, -1)], t1, t2

    def test_refagg_dict_roundtrip(self):
        bases, refined, t1, t2 = self._fixture()
        data = jbig2.encode_huffman_refagg_page(
            bases, refined,
            [(0, 1, 1), (1, 6, 1), (2, 12, 1), (3, 17, 1)], 24, 8,
        )
        w, h, rows = jbig2.decode_embedded(data)
        assert (w, h) == (24, 8)
        # refined symbols decode bit-exact at their placements
        # (exports: ring, box, t2 [3x3 sorts first], t1)
        got_t2 = [bytearray(rows[1 + y][12:15]) for y in range(3)]
        assert got_t2 == [bytearray(r) for r in t2]
        got_t1 = [bytearray(rows[1 + y][17:22]) for y in range(4)]
        assert got_t1 == [bytearray(r) for r in t1]
        # the plain base symbols ride along unrefined
        assert rows[1][1] == 1 and rows[2][2] == 0

    def test_bit_flips_never_decline_or_hang(self):
        """Round-9: TRUE aggregates now DECODE (§6.5.8.2.2), so no
        single-bit flip may surface the old JBIG2Unsupported
        decline — every mutation either decodes (possibly to other
        pixels) or raises a plain bounded JBIG2Error."""
        bases, refined, _, _ = self._fixture()
        data = bytearray(jbig2.encode_huffman_refagg_page(
            bases, refined, [(0, 1, 1)], 16, 8,
        ))
        for i in range(len(data) * 8):
            mutated = bytearray(data)
            mutated[i // 8] ^= 0x80 >> (i % 8)
            try:
                jbig2.decode_embedded(bytes(mutated))
            except jh.JBIG2Unsupported as e:
                assert "true-aggregate" not in str(e).lower(), i
            except jh.JBIG2Error:
                continue


class TestEmptyHeightClass:
    def test_empty_height_class_is_a_noop(self):
        """T.88 6.5.5 permits a class whose DW sequence is
        immediately OOB — conformant streams skip heights."""
        import struct

        glyph = [bytearray([1, 1, 1]), bytearray([1, 0, 1])]
        data, _ = jbig2.encode_huffman_text_page(
            [glyph], [(0, 2, 2)], 10, 8
        )
        # splice an empty height class before the real one inside the
        # symbol dictionary bit stream: DH=+1 (B.4: '0' + 0 bits
        # range...), OOB DW (B.2 OOB code) — easier: build the dict
        # bitstream by hand
        tb_dh = jh.standard_table(4)
        tb_dw = jh.standard_table(2)
        tb_bm = jh.standard_table(1)
        tb_ex = jh.standard_table(1)
        bw = jh.BitWriter()
        tb_dh.encode(bw, 1)      # class at height 1: EMPTY
        tb_dw.encode(bw, jh.OOB)
        tb_dh.encode(bw, 1)      # class at height 2: one 3-wide sym
        tb_dw.encode(bw, 3)
        tb_dw.encode(bw, jh.OOB)
        tb_bm.encode(bw, 0)      # uncompressed collective
        bw.align()
        bw.raw_bytes(bytes([0b11100000, 0b10100000]))  # 3x2 glyph
        tb_ex.encode(bw, 0)
        tb_ex.encode(bw, 1)
        sd = (struct.pack(">H", 1)  # SDHUFF
              + struct.pack(">II", 1, 1) + bw.getvalue())
        page_info = (struct.pack(">IIII", 10, 8, 0, 0) + bytes([0])
                     + struct.pack(">H", 0))
        # text region from the library encoder, dictionary spliced in
        segs = jbig2.parse_segments(data)
        out = bytearray()
        for seg in segs:
            body = sd if seg.type == jbig2.SEG_SYMBOL_DICT else seg.data
            out += jbig2._segment_header(
                seg.number, seg.type, seg.page, len(body),
                refs=tuple(seg.refs),
            ) + body
        w, h, rows = jbig2.decode_embedded(bytes(out))
        assert (w, h) == (10, 8)
        # the 3x2 glyph landed at (2, 2)
        assert rows[2][2:5] == bytearray([1, 1, 1])
        assert rows[3][2:5] == bytearray([1, 0, 1])


class TestHuffmanRefinement:
    """§6.4.11 SBREFINE=1 in a SBHUFF=1 text region (round-8 close of
    the last declared JBIG2 decline): raw RI bit, B.15-coded
    RDW/RDH/RDX/RDY, B.1 BMSIZE, byte-aligned embedded MQ refinement
    with fresh GR contexts, S-advance by the REFINED width."""

    @staticmethod
    def _syms():
        box = [bytearray([1, 1, 1, 1]) for _ in range(4)]
        bar = [bytearray([1, 1, 1, 1, 1]) for _ in range(3)]
        return [box, bar]

    def test_refined_instance_roundtrip(self):
        syms = self._syms()
        target = [bytearray([1, 1, 1, 1, 1, 1]) for _ in range(4)]
        target[0][0] = 0
        target[1][2] = 0
        target[3][5] = 0
        data, g = jbig2.encode_huffman_text_page(
            syms, [(0, 2, 2), (1, 10, 2), (0, 20, 2)], 30, 10,
            refinements={1: (target, 0, 0)},
        )
        w, h, rows = jbig2.decode_embedded(data, g)
        assert (w, h) == (30, 10)
        # unrefined boxes at (2,2) and (20,2)
        assert rows[2][2:6] == bytearray([1, 1, 1, 1])
        assert rows[2][20:24] == bytearray([1, 1, 1, 1])
        # refined bar: grew to 6x4 with the three notches, bit-exact
        got = [bytearray(rows[2 + y][10:16]) for y in range(4)]
        assert got == target

    def test_refined_shrink_and_offset(self):
        # negative RDW/RDH and nonzero RDX/RDY exercise the signed
        # B.15 paths and the floor(RDW/2)+RDX reference shift
        syms = self._syms()
        target = [bytearray([0, 1, 1]) for _ in range(2)]
        data, g = jbig2.encode_huffman_text_page(
            syms, [(0, 1, 1), (0, 12, 1)], 24, 8,
            refinements={1: (target, 1, -1)},
        )
        w, h, rows = jbig2.decode_embedded(data, g)
        got = [bytearray(rows[1 + y][12:15]) for y in range(2)]
        assert got == target
        # the unrefined first box is intact
        assert rows[1][1:5] == bytearray([1, 1, 1, 1])

    def test_all_instances_refined(self):
        syms = [self._syms()[0]]
        t1 = [bytearray([1, 0, 1, 0, 1]) for _ in range(4)]
        t2 = [bytearray([0, 1, 0]) for _ in range(5)]
        data, g = jbig2.encode_huffman_text_page(
            syms, [(0, 0, 0), (0, 8, 0)], 16, 8,
            refinements={0: (t1, 0, 0), 1: (t2, 0, 0)},
        )
        w, h, rows = jbig2.decode_embedded(data, g)
        assert [bytearray(rows[y][0:5]) for y in range(4)] == t1
        assert [bytearray(rows[y][8:11]) for y in range(5)] == t2

    def test_truncated_refinement_data_raises(self):
        syms = self._syms()
        target = [bytearray([1, 1, 1, 1, 1, 1]) for _ in range(4)]
        data, g = jbig2.encode_huffman_text_page(
            syms, [(1, 2, 2)], 20, 8,
            refinements={0: (target, 0, 0)},
        )
        with pytest.raises(jbig2.JBIG2Error):
            jbig2.decode_embedded(data[:-6], g)


class TestB7B10EndToEnd:
    """Round-9: the B.7 (first-S) and B.10 (delta-S) selections
    decode end-to-end in a Huffman text region."""

    @pytest.mark.parametrize("fs_sel,ds_sel",
                             [(1, 0), (0, 2), (1, 2), (0, 1)])
    def test_text_page_roundtrip(self, fs_sel, ds_sel):
        glyph = [bytearray([1, 1, 1]), bytearray([1, 0, 1])]
        bar = [bytearray([1] * 5) for _ in range(3)]
        data, _ = jbig2.encode_huffman_text_page(
            [glyph, bar], [(0, 2, 2), (1, 12, 2), (0, 25, 4)],
            32, 10, fs_sel=fs_sel, ds_sel=ds_sel)
        w, h, rows = jbig2.decode_embedded(data)
        assert (w, h) == (32, 10)
        assert rows[2][2:5] == bytearray([1, 1, 1])
        assert rows[2][12:17] == bytearray([1] * 5)
        assert rows[4][25:28] == bytearray([1, 1, 1])

    def test_selection_out_of_range_raises(self):
        glyph = [bytearray([1])]
        with pytest.raises(jbig2.JBIG2Error):
            jbig2.encode_huffman_text_page(
                [glyph], [(0, 0, 0)], 4, 4, ds_sel=3)

    def test_b10_published_span(self):
        """The published B.10 spans [-21, 4166) — NOT a doubled
        B.9 span (round-9's derivation predicted [-63, 6677) and
        was wrong; see test_b10_published_lines)."""
        b10 = jh.standard_table(10)
        assert min(lo for _, _, lo, k in b10.lines if k == "n") == -21
        assert [lo for _, _, lo, k in b10.lines if k == "u"][0] == 4166
        assert [lo for _, _, lo, k in b10.lines if k == "l"][0] == -22


class TestHuffmanTrueAggregate:
    """Round-9: SDHUFF=1 symbol dictionaries with REFAGGNINST > 1 —
    the new symbol decodes as a NESTED Huffman text region
    (§6.5.8.2.2) instead of declining by name."""

    BOX = [bytearray([1, 1, 1]), bytearray([1, 0, 1]),
           bytearray([1, 1, 1])]
    BAR = [bytearray([1, 1, 1, 1])]

    def test_aggregate_symbol_roundtrip(self):
        # dict-1 exports sort by height: id 0 = BAR, id 1 = BOX
        data = jbig2.encode_huffman_refagg_page(
            [self.BOX, self.BAR],
            [("agg", 12, 5,
              [(0, 0, 0), (1, 5, 1), (0, 8, 4)])],
            [(2, 2, 2), (1, 20, 3)],
            36, 12,
        )
        w, h, rows = jbig2.decode_embedded(data)
        assert (w, h) == (36, 12)
        # aggregate at (2,2): bar at +0,+0 / box at +5,+1 / bar +8,+4
        assert rows[2][2:6] == bytearray([1, 1, 1, 1])
        assert rows[3][7:10] == bytearray([1, 1, 1])
        assert rows[4][7:10] == bytearray([1, 0, 1])
        assert rows[5][7:10] == bytearray([1, 1, 1])
        assert rows[6][10:14] == bytearray([1, 1, 1, 1])
        # the directly-placed base box at (20,3)
        assert rows[3][20:23] == bytearray([1, 1, 1])

    def test_multi_instance_same_strip(self):
        # two instances in ONE strip exercises the DS table path
        data = jbig2.encode_huffman_refagg_page(
            [self.BOX, self.BAR],
            [("agg", 14, 3, [(1, 0, 0), (1, 6, 0)])],
            [(2, 1, 1)],
            24, 8,
        )
        w, h, rows = jbig2.decode_embedded(data)
        assert rows[1][1:4] == bytearray([1, 1, 1])
        assert rows[1][7:10] == bytearray([1, 1, 1])
        assert rows[2][1:4] == bytearray([1, 0, 1])
        assert rows[2][7:10] == bytearray([1, 0, 1])

    def test_hostile_aggregate_declines(self):
        # an aggregate whose BMSIZE runs past the segment must raise
        data = jbig2.encode_huffman_refagg_page(
            [self.BOX, self.BAR],
            [("agg", 12, 5, [(0, 0, 0), (1, 5, 1)])],
            [(2, 2, 2)],
            36, 12,
        )
        # truncate the stream hard: the decoder must error, not hang
        with pytest.raises(jh.JBIG2Error):
            jbig2.decode_embedded(data[:len(data) - 30])


class TestJbig2HuffmanLut:
    """The lazy whole-code LUT + windowed bits() must reproduce the
    per-bit reference walk exactly: decoded values, consumed bit
    positions, AND error outcomes on truncated streams."""

    @staticmethod
    def _walk_decode(tb, br):
        """The pre-LUT per-bit reference decode."""
        from pdf2dataset_spark.sources import jbig2_huffman as jh
        from pdf2dataset_spark.sources.jbig2 import JBIG2Error

        length = 0
        code = 0
        dm = tb._decode_map
        while True:
            code = (code << 1) | br.bit()
            length += 1
            ln = dm.get((length, code))
            if ln is not None:
                break
            if length > 32:
                raise JBIG2Error("Huffman prefix longer than any code")
        preflen, rangelen, rangelow, kind = ln
        if kind == jh._OOBK:
            return jh.OOB
        if kind == jh._LOWER:
            return rangelow - br.bits(32)
        if kind == jh._UPPER:
            return rangelow + br.bits(32)
        return rangelow + br.bits(rangelen)

    def test_standard_tables_match_walk(self):
        import random

        from pdf2dataset_spark.sources import jbig2_huffman as jh
        from pdf2dataset_spark.sources.jbig2 import JBIG2Error

        rng = random.Random(31)
        for idx in range(1, 16):
            tb = jh.standard_table(idx)
            for _ in range(200):
                data = bytes(
                    rng.getrandbits(8)
                    for _ in range(rng.choice([0, 1, 2, 3, 4, 8, 16]))
                )
                b_new, b_old = jh.BitReader(data), jh.BitReader(data)
                try:
                    got = (tb.decode(b_new), b_new.pos)
                except JBIG2Error:
                    got = "err"
                try:
                    want = (self._walk_decode(tb, b_old), b_old.pos)
                except JBIG2Error:
                    want = "err"
                assert got == want, (idx, data.hex())

    def test_long_codes_fall_back_to_walk(self):
        from pdf2dataset_spark.sources import jbig2_huffman as jh

        # 16-bit codes exceed the 13-bit LUT window
        lines = [(1, 0, 0, jh._NORMAL)] + [
            (16, 0, i, jh._NORMAL) for i in range(1, 5)
        ]
        tb = jh.HuffTable(lines)
        bw = jh.BitWriter()
        for v in (0, 3, 1, 4, 0, 2):
            tb.encode(bw, v)
        br = jh.BitReader(bw.getvalue())
        assert [tb.decode(br) for _ in range(6)] == [0, 3, 1, 4, 0, 2]
        assert tb._lut_bits == 13

    def test_lut_matches_decode_map(self):
        from pdf2dataset_spark.sources import jbig2_huffman as jh

        tb = jh.standard_table(8)
        tb.decode(jh.BitReader(b"\x00\x00"))  # force lazy build
        width = tb._lut_bits
        for (preflen, code), ln in tb._decode_map.items():
            if preflen <= width:
                base = code << (width - preflen)
                for probe in (base, base + (1 << (width - preflen)) - 1):
                    assert tb._lut[probe] is ln

    def test_windowed_bits_matches_per_bit(self):
        import random

        from pdf2dataset_spark.sources import jbig2_huffman as jh
        from pdf2dataset_spark.sources.jbig2 import JBIG2Error

        rng = random.Random(77)
        for _ in range(2000):
            data = bytes(
                rng.getrandbits(8) for _ in range(rng.choice([0, 1, 2, 5]))
            )
            pos = rng.randint(0, len(data) * 8)
            n = rng.randint(0, 40)
            br = jh.BitReader(data)
            br.pos = pos
            try:
                got = (br.bits(n), br.pos)
            except JBIG2Error:
                got = "err"
            want = 0
            for k in range(n):
                i = pos + k
                if (i >> 3) >= len(data):
                    want = "err"
                    break
                want = (want << 1) | ((data[i >> 3] >> (7 - (i & 7))) & 1)
            if want != "err":
                want = (want, pos + n)
            assert got == want, (data.hex(), pos, n)
