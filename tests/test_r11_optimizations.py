"""Focused tests for the round-11 optimization internals.

Each optimization that changed an operator's internals gets a direct
assertion here: the minipdf lexer fast paths (bulk literal-string
copy, one-slice names, regex whitespace, the direct-object content
parser), the per-document font decode-map cache, the Arrow-shipped
bytes-partitioned in-memory manifest, and the bounded-keyspace
single-partition ORDER BY helper.
"""

from __future__ import annotations

import pytest

from pdf2dataset_spark.sources import minipdf
from pdf2dataset_spark.sources.minipdf import (
    PdfDocument,
    _parse_content_value,
    _parse_literal_string,
    _parse_name,
    _skip_ws,
    build_pdf,
    encoding_map,
    parse_value,
)


# ------------------------------------------------------------ lexer
class TestLexerFastPaths:
    def test_literal_string_bulk_and_escapes(self):
        # ordinary run + every escape class + nesting + continuation
        data = b"(abc\\n\\r\\t\\b\\f\\(\\)\\\\xy\\101\\41\\7(in(ner))tail\\\r\nz)"
        out, pos = _parse_literal_string(data, 0)
        assert out == b"abc\n\r\t\x08\x0c()\\xyA!\x07(in(ner))tailz"
        assert pos == len(data)

    def test_literal_string_unterminated_raises(self):
        with pytest.raises(ValueError):
            _parse_literal_string(b"(never closed", 0)

    def test_literal_string_unknown_escape_kept(self):
        out, _ = _parse_literal_string(b"(a\\qb)", 0)
        assert out == b"aqb"

    def test_name_fast_and_hex_escape_paths(self):
        assert _parse_name(b"/Simple ", 0) == ("/Simple", 7)
        # '#xx' routes through the escape path; stop set unchanged
        assert _parse_name(b"/A#20B/next", 0) == ("/A B", 6)
        assert _parse_name(b"/X]", 0) == ("/X", 2)
        assert _parse_name(b"/ ", 0) == ("/", 1)  # empty name

    def test_skip_ws_comments_and_runs(self):
        data = b"  % comment to eol\r\n\t \x00next"
        assert data[_skip_ws(data, 0) :] == b"next"
        assert _skip_ws(b"abc", 0) == 0
        assert _skip_ws(b"   ", 0) == 3  # runs to end without error

    def test_content_value_matches_parse_value_on_direct_objects(self):
        cases = [
            b"[(ab) -12 (c) 3.5 /Nm [1 2] <</K 1>> true false null]",
            b"[]",
            b"<</A 1 /B (x) /C [4 5.25]>>",
            b"(str)",
            b"<414243>",
            b"-42",
            b"3.25",
            b"/Name",
        ]
        for data in cases:
            want = parse_value(data, 0)
            got = _parse_content_value(data, 0)
            assert got == want, data

    def test_content_value_numbers_behind_comments(self):
        # the fused ws+number fast path stops at '%'; the fallback
        # must still lex the number after the comment
        for data in (b"% note\n 42 ", b"[% c\n1 2]", b"[1 % mid\n2]"):
            assert _parse_content_value(data, 0) == parse_value(data, 0)

    def test_content_value_skips_ref_lookahead(self):
        # 'N G R' is illegal in content streams (ISO 32000-1 §7.8.2);
        # the content parser must yield plain numbers, not a Ref
        v, pos = _parse_content_value(b"5 0 R", 0)
        assert v == 5 and pos == 1
        # while the general parser still folds it into a reference
        ref, _ = parse_value(b"5 0 R", 0)
        assert isinstance(ref, minipdf.Ref) and ref.num == 5


class TestFusedLexerPaths:
    """The session-3 single-match fast paths (object arrays, dict
    keys, content tokens, simple literal strings) must keep the exact
    semantics of the recursive paths they bypass."""

    def test_object_array_refs_and_numbers(self):
        Ref = minipdf.Ref
        arr, pos = parse_value(b"[1 0 R 500 520 540 2 0 R]", 0)
        assert arr == [Ref(1), 500, 520, 540, Ref(2)]
        # separators between G and R may be EMPTY (legacy files)
        arr, _ = parse_value(b"[12 34R]", 0)
        assert arr == [Ref(12)]
        # a signed object number still folds into a reference
        arr, _ = parse_value(b"[-5 6 R]", 0)
        assert arr == [Ref(-5)]
        # a real can never open a reference: 1.5 stays a float and
        # the 2 0 R after it is its own element
        arr, _ = parse_value(b"[1.5 2 0 R]", 0)
        assert arr == [1.5, Ref(2)]
        # R not delimited -> not a reference ('RG' is a regular run)
        with pytest.raises(ValueError):
            parse_value(b"[500 520 RG]", 0)

    def test_object_array_comment_separated_ref(self):
        # %-comments are whitespace between reference components
        Ref = minipdf.Ref
        arr, _ = parse_value(b"[7 % c\n 0 % c\n R 9]", 0)
        assert arr == [Ref(7), 9]
        arr, _ = parse_value(b"[% lead\n 3 4]", 0)
        assert arr == [3, 4]

    def test_object_array_mixed_elements(self):
        arr, _ = parse_value(b"[(s) /Nm <0102> [1] <</K 2>> true null]", 0)
        assert arr == [b"s", "/Nm", b"\x01\x02", [1], {"/K": 2}, True, None]

    def test_dict_key_fast_and_escaped(self):
        d, pos = parse_value(b"<</Simple 1 /A#20B 2>>", 0)
        assert d == {"/Simple": 1, "/A B": 2}
        assert pos == 22
        # comment before a key and before the closer
        d, _ = parse_value(b"<<% c\n/K 3 % c\n>>", 0)
        assert d == {"/K": 3}

    def test_iter_content_ops_token_kinds(self):
        ops = list(minipdf._iter_content_ops(
            b"BT /F1 12 Tf 1 0 0 1 72 720 Tm [(a) -250 (b)] TJ ET"
        ))
        assert [op for op, _ in ops] == [b"BT", b"Tf", b"Tm", b"TJ", b"ET"]
        # operands of the LAST yield survive until the next iteration
        tf = [list(st) for op, st in ops]  # consumed live above; re-lex
        ops2 = [(op, list(st)) for op, st in minipdf._iter_content_ops(
            b"/F1 12 Tf [(a) -250 (b)] TJ"
        )]
        assert ops2 == [
            (b"Tf", ["/F1", 12]),
            (b"TJ", [[b"a", -250, b"b"]]),
        ]

    def test_iter_content_ops_oddball_tokens(self):
        # '--5' and '.' are not numbers: they lex as (unknown)
        # operator tokens and CLEAR the operand stack, so the
        # following Tj has no operand
        ops = [(op, list(st)) for op, st in
               minipdf._iter_content_ops(b"(A) --5 Tj")]
        assert ops == [(b"--5", [b"A"]), (b"Tj", [])]
        # a name with a #xx escape decodes exactly
        ops = [(op, list(st)) for op, st in
               minipdf._iter_content_ops(b"/A#20B gs")]
        assert ops == [(b"gs", ["/A B"])]
        # stray delimiters are skipped without clearing the stack
        ops = [(op, list(st)) for op, st in
               minipdf._iter_content_ops(b"(A) ] Tj")]
        assert ops == [(b"Tj", [b"A"])]

    def test_iter_content_ops_inline_image_skipped(self):
        ops = [(op, list(st)) for op, st in minipdf._iter_content_ops(
            b"q BI /W 2 /H 2 ID \x00\xff\x01\x02 EI Q (t) Tj"
        )]
        assert ops == [(b"q", []), (b"Q", []), (b"Tj", [b"t"])]

    def test_simple_literal_string_fast_path(self):
        assert _parse_literal_string(b"()", 0) == (b"", 2)
        assert _parse_literal_string(b"(plain run) more", 0) == (
            b"plain run", 11)
        # escapes and nesting still take the exact scanner
        assert _parse_literal_string(b"(a\\)b)", 0) == (b"a)b", 6)
        assert _parse_literal_string(b"(a(b)c)", 0) == (b"a(b)c", 7)

    def test_tj_array_hex_and_escaped_strings(self):
        v, _ = _parse_content_value(b"[(a) <4243> -100 (c\\)d) 2]", 0)
        assert v == [b"a", b"BC", -100, b"c)d", 2]

    def test_object_array_roundtrip_fuzz(self):
        # seeded serialize->parse roundtrip over the element kinds
        # the fused regex discriminates (a backtracking slip here
        # once lexed '12 34R' as '1' + ...)
        import random

        rng = random.Random(1107)
        Ref = minipdf.Ref
        for _ in range(300):
            want, toks = [], []
            for _ in range(rng.randrange(0, 12)):
                kind = rng.randrange(6)
                if kind == 0:
                    v = rng.randrange(-999, 10000)
                    want.append(v)
                    toks.append(str(v).encode())
                elif kind == 1:
                    v = rng.randrange(0, 10000) + 0.25
                    want.append(v)
                    toks.append(str(v).encode())
                elif kind == 2:
                    n = rng.randrange(1, 5000)
                    want.append(Ref(n))
                    toks.append(f"{n} 0 R".encode())
                elif kind == 3:
                    s = bytes(rng.randrange(97, 123)
                              for _ in range(rng.randrange(0, 6)))
                    want.append(s)
                    toks.append(b"(" + s + b")")
                elif kind == 4:
                    want.append("/Nm")
                    toks.append(b"/Nm")
                else:
                    want.append(None)
                    toks.append(b"null")
            sep = rng.choice([b" ", b"  ", b"\n", b" % c\n "])
            data = b"[" + sep.join(toks) + b"]"
            got, pos = parse_value(data, 0)
            assert got == want, data
            assert pos == len(data)


# ----------------------------------------------------- font caching
class TestFontMapCache:
    def test_decode_map_built_once_per_font_object(self):
        doc = PdfDocument(build_pdf(["page one", "page two", "three"]))
        pages = doc.pages()
        maps = [doc.page_fonts(p) for p in pages]
        # the same font object must yield the IDENTICAL finished map
        # (cache hit), not an equal rebuild
        first = {k: id(v) for k, v in maps[0].items()}
        for m in maps[1:]:
            for k, v in m.items():
                if k in first:
                    assert id(v) == first[k]
        assert doc._font_map_cache  # populated

    @pytest.mark.parametrize("extra, kind", [
        ({}, str),
        ({0x41: "\u03a9", 0x09: "\u2022"}, str),
        ({0x66: "fi"}, dict),  # a ligature: several characters
        ({0x20: ""}, dict),  # a code that decodes to nothing
        ({0x41: "\ufffe"}, dict),  # charmap_decode's undefined mark
    ])
    def test_byte_map_decodes_like_translate(self, extra, kind):
        """A 1-byte font map decodes through a 256-char charmap table
        when every code is one character, else through translate;
        either way every code decodes as translate would."""
        mapping = {**encoding_map("/WinAnsiEncoding", lambda v: v), **extra}
        _, _, table = PdfDocument._finish_font_map(mapping, 1)
        assert type(table) is kind
        raw = bytes(range(256))
        want = raw.decode("latin-1").translate(
            str.maketrans({chr(c): v for c, v in mapping.items()}))
        assert minipdf._decode_byte_map(raw, table) == want

    def test_encoding_map_returns_fresh_mutable_dict(self):
        # the shared base table must never leak: mutating one result
        # cannot affect the next call
        m1 = encoding_map("/WinAnsiEncoding", lambda v: v)
        m1[65] = "Z"
        m2 = encoding_map("/WinAnsiEncoding", lambda v: v)
        assert m2[65] == "A"

    def test_differences_still_apply_over_cached_base(self):
        enc = {"/BaseEncoding": "/WinAnsiEncoding", "/Differences": [65, "/bullet"]}
        m = encoding_map(enc, lambda v: v)
        assert m[65] == "•" and m[66] == "B"


# ------------------------------------------------ jpeg entropy reader
class TestJpegBitReader:
    def test_lut_agrees_with_tree_walk_on_every_code(self):
        from pdf2dataset_spark.sources.jpeg import (
            _BitReader,
            _decode_tree,
            _read_symbol,
            _read_symbol_slow,
        )

        # a table with short AND long codes (1..16 bits)
        bits = [0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1]
        vals = list(range(sum(bits)))
        table = _decode_tree(bits, vals)
        bylen, lut = table
        for (length, code), sym in bylen.items():
            # encode the code MSB-first into a byte stream
            nbytes = (length + 7) // 8
            stream = (code << (nbytes * 8 - length)).to_bytes(nbytes, "big")
            fast = _read_symbol(_BitReader(stream), table)
            slow = _read_symbol_slow(_BitReader(stream), bylen)
            assert fast == slow == sym, (length, code)

    def test_tail_pos_accounts_for_stuffed_bytes(self):
        from pdf2dataset_spark.sources.jpeg import _BitReader

        # AA FF00 BB CC: 4 entropy bytes, byte 2 is stuffed (cost 2)
        data = b"\xaa\xff\x00\xbb\xcc"
        br = _BitReader(data)
        assert br.read_bits(4) == 0xA
        assert br.tail_pos() == 1  # only AA contains consumed bits
        br.read_bits(8)  # consume across the stuffed byte
        assert br.tail_pos() == 3  # past FF 00
        br.peek9()  # prefetch must NOT move the logical position
        assert br.tail_pos() == 3

    def test_reader_error_parity(self):
        from pdf2dataset_spark.sources.jpeg import _BitReader

        br = _BitReader(b"\xaa")
        br.read_bits(8)
        with pytest.raises(ValueError, match="truncated"):
            br.read_bit()
        br = _BitReader(b"\xff\xd9")  # marker where entropy expected
        with pytest.raises(ValueError, match="marker"):
            br.read_bit()
        # peek past the marker must NOT raise (soft), and the slow
        # path after it must still raise at the same consumed offset
        br = _BitReader(b"\xaa\xff\xd9")
        br.read_bits(4)
        br.peek9()
        assert br.tail_pos() == 1
        br.read_bits(4)
        with pytest.raises(ValueError, match="marker"):
            br.read_bit()

    def test_restart_byte_aligns_from_prefetched_state(self):
        from pdf2dataset_spark.sources.jpeg import _BitReader

        # one entropy byte, RST0, one more entropy byte
        br = _BitReader(b"\xab\xff\xd0\xcd")
        assert br.read_bits(3) == 0b101
        br.peek9()  # force prefetch up to the marker
        br.restart()
        assert br.read_bits(8) == 0xCD


# --------------------------------------------- bounded ORDER BY helper
class TestOrderedSmall:
    def test_total_order_and_single_partition_plan(self, spark):
        from pyspark.sql import functions as F

        from pdf2dataset_spark.queries._util import ordered_small

        df = spark.range(0, 1000).select(
            (F.col("id") % 7).alias("k"), F.col("id").alias("v")
        )
        agg = df.groupBy("k").agg(F.sum("v").alias("s"))
        want = [r.asDict() for r in agg.orderBy("k").collect()]
        got_df = ordered_small(agg, "k")
        assert [r.asDict() for r in got_df.collect()] == want
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" in plan
        assert "rangepartitioning" not in plan


# ---------------------------------------------- lazy ObjStm members
class TestLazyObjStm:
    """ObjStm members parse on first resolve(), not at open — members
    are independent (a malformed one drops only itself) and claim
    precedence is unchanged (top-level beats ObjStm; earlier stream
    beats later)."""

    @staticmethod
    def _objstm_pdf(members: list[tuple[int, bytes]]) -> bytes:
        import zlib

        header = b""
        body = b""
        for onum, obody in members:
            header += b"%d %d " % (onum, len(body))
            body += obody + b" "
        payload = zlib.compress(header + body)
        out = bytearray(b"%PDF-1.5\n")
        c = b"BT /F1 12 Tf 72 700 Td (lazy body) Tj ET"
        out += b"4 0 obj\n<< /Length %d >>\nstream\n" % len(c) + c \
            + b"\nendstream\nendobj\n"
        out += (
            b"5 0 obj\n<< /Type /ObjStm /N %d /First %d /Length %d "
            b"/Filter /FlateDecode >>\nstream\n"
            % (len(members), len(header), len(payload))
        ) + payload + b"\nendstream\nendobj\n"
        out += b"trailer\n<< /Size 9 /Root 1 0 R >>\n%%EOF\n"
        return bytes(out)

    PAGE_TREE = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
    ]

    def test_members_parse_lazily_and_memoize(self):
        pdf = self._objstm_pdf(
            self.PAGE_TREE + [(7, b"<< /Unused (never read) >>")]
        )
        doc = PdfDocument(pdf)
        # nothing parsed at open; all four members registered lazy
        assert set(doc._lazy) == {1, 2, 3, 7}
        assert all(e[2] is minipdf._UNSET for e in doc._lazy.values())
        assert minipdf.extract_page_texts(pdf) == ["lazy body"]
        doc2 = PdfDocument(pdf)
        doc2.pages()
        # the page walk materialized the tree but not the unused obj
        assert doc2._lazy[7][2] is minipdf._UNSET
        assert doc2._lazy[3][2] is not minipdf._UNSET
        # memoized: second resolve returns the same parsed dict
        assert doc2.resolve(minipdf.Ref(3)) is doc2.resolve(minipdf.Ref(3))

    def test_malformed_member_drops_only_itself(self):
        pdf = self._objstm_pdf(
            self.PAGE_TREE
            + [
                (7, b"<< /Ok (fine) >>"),
                (8, b"[ 1 2"),  # unterminated array: parse fails
                (9, b"<< /After (fine too) >>"),
            ]
        )
        doc = PdfDocument(pdf)
        # members are independent (§7.5.7): 8 fails and drops only
        # itself — 9 still parses (the old eager loop dropped the
        # whole suffix; independence salvages more of a corrupt file)
        assert doc.resolve(minipdf.Ref(9)) == {"/After": b"fine too"}
        assert doc.resolve(minipdf.Ref(8)) is None
        assert 8 not in doc._lazy  # failure memoized as absent
        assert doc.resolve(minipdf.Ref(7)) == {"/Ok": b"fine"}
        assert minipdf.extract_page_texts(pdf) == ["lazy body"]

    def test_top_level_object_wins_over_objstm_member(self):
        pdf = bytearray(self._objstm_pdf(
            self.PAGE_TREE + [(7, b"(shadowed)")]
        ))
        # append a top-level 7 (scan inserts it before expansion runs;
        # claim precedence must keep it)
        pdf = bytes(pdf).replace(
            b"trailer\n",
            b"7 0 obj\n(top-level wins)\nendobj\ntrailer\n",
        )
        doc = PdfDocument(pdf)
        assert 7 not in doc._lazy
        assert doc.resolve(minipdf.Ref(7)) == b"top-level wins"

    def test_catalog_found_inside_objstm_without_full_expand(self):
        pdf = self._objstm_pdf(
            [(7, b"<< /NotIt (x) >>")] + self.PAGE_TREE
            + [(8, b"<< /AlsoNot (y) >>")]
        )
        doc = PdfDocument(pdf)
        cat = doc._catalog()
        assert cat.get("/Type") == "/Catalog"
        # members after the catalog in header order stayed unparsed
        assert doc._lazy[8][2] is minipdf._UNSET


class TestCcittLutReader:
    """The 13-bit run LUT + 7-bit mode LUT must reproduce the per-bit
    reference walk exactly — decoded elements AND error outcomes on
    truncated/corrupted streams."""

    def test_roundtrip_and_truncation_outcomes(self):
        import random

        from pdf2dataset_spark.sources import ccitt

        rng = random.Random(99)
        for trial in range(12):
            w = rng.choice([17, 64, 203])
            h = rng.randint(2, 12)
            px = bytes(
                0 if rng.getrandbits(2) == 0 else 255
                for _ in range(w * h)
            )
            data = ccitt.encode_g4(px, w, h)
            out = ccitt.decode_g4(data, w, h)
            back = ccitt._transitions_to_gray(out, w)
            assert bytes(back) == bytes(
                0 if v < 128 else 255 for v in px
            )
            # truncations must raise (rows=N contract), never return
            for cut in (len(data) - 1, len(data) // 2, 3):
                try:
                    ccitt.decode_g4(data[:max(0, cut)], w, h)
                except ValueError:
                    pass
                else:  # a shorter prefix CAN still hold all rows
                    assert cut >= len(data) - 1

    def test_mode_lut_covers_all_t6_codes(self):
        from pdf2dataset_spark.sources.ccitt import _MODE_LUT

        # exactly the two '000000x' slots are unassigned
        missing = [i for i, v in enumerate(_MODE_LUT) if v is None]
        assert missing == [0, 1]

    def test_run_luts_match_tables(self):
        from pdf2dataset_spark.sources.ccitt import (
            _BLACK_DEC,
            _BLACK_LUT,
            _WHITE_DEC,
            _WHITE_LUT,
        )

        for dec, lut in ((_WHITE_DEC, _WHITE_LUT),
                         (_BLACK_DEC, _BLACK_LUT)):
            for (ln, code), run in dec.items():
                # the aligned peek value resolves to (run, ln)
                assert lut[code << (13 - ln)] == (run, ln)
