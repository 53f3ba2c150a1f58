"""Differential gate: the object-table scan vs a scan of every byte.

`PdfDocument._scan` resumes its `N G obj` search past each consumed
stream body instead of regex-scanning the body and dropping the
matches found inside it. This compares its object table (`objects`
and `_gens`) with a test-local copy of the every-byte `finditer`
scan, over the tier-A fixtures, byte-level mutations of them and of
`build_pdf` documents, hand-made edge cases and the real
`/usr/share/doc` PDFs.
"""

from __future__ import annotations

import pathlib
import random

import pytest

from pdf2dataset_spark.sources import minipdf
from pdf2dataset_spark.sources.minipdf import (
    _OBJ_RE,
    _WS,
    PdfDocument,
    StreamObj,
    _skip_ws,
    parse_value,
)

_REAL = (
    "/usr/share/doc/libtasn1-doc/libtasn1.pdf",
    "/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf",
)


def _finditer_scan(data: bytes) -> tuple[dict, dict]:
    """The every-byte scan: each match inside a consumed object is
    found by the regex, then dropped."""
    objects: dict = {}
    gens: dict = {}
    consumed_to = 0
    for m in _OBJ_RE.finditer(data):
        if m.start() < consumed_to:
            continue
        num = int(m.group(1))
        try:
            val, pos = parse_value(data, m.end())
        except (ValueError, IndexError):
            continue
        gens[num] = int(m.group(2))
        pos = _skip_ws(data, pos)
        if data.startswith(b"stream", pos) and isinstance(val, dict):
            p = pos + 6
            if data[p : p + 2] == b"\r\n":
                p += 2
            elif data[p : p + 1] in (b"\n", b"\r"):
                p += 1
            length = val.get("/Length")
            raw = None
            if isinstance(length, int):
                cand_end = p + length
                if data[cand_end : cand_end + 12].lstrip(_WS).startswith(
                    b"endstream"
                ):
                    raw = data[p:cand_end]
            if raw is None:
                e = data.find(b"endstream", p)
                if e == -1:
                    continue
                raw = data[p:e].rstrip(b"\r\n")
            objects[num] = StreamObj(val, raw)
            consumed_to = p + len(raw)
        else:
            objects[num] = val
            consumed_to = pos
    return objects, gens


def _scan(data: bytes) -> tuple[dict, dict]:
    doc = PdfDocument.__new__(PdfDocument)
    doc.objects, doc._gens = {}, {}
    doc._scan(data)
    return doc.objects, doc._gens


def _assert_same(data: bytes) -> None:
    assert _scan(data) == _finditer_scan(data)


def _fixtures() -> dict[str, bytes]:
    from pdf2dataset_spark.queries import tier_a

    docs: dict[str, bytes] = {}
    for make in (tier_a._layout_fixtures, tier_a._structural_fixtures,
                 tier_a._shading_fixtures, tier_a._softmask_blend_fixtures,
                 tier_a._torture_fixture, tier_a._clip_fixture,
                 tier_a._type3_fixture):
        for name, pdf in make().items():
            docs[f"{make.__name__}/{name}"] = pdf
    docs["annot_outline"] = tier_a._annot_outline_pdf()
    docs["attachments"] = tier_a._attachments_pdf()
    docs["plain"] = minipdf.build_pdf(["fuzz page one", "fuzz page two"])
    docs["flate"] = minipdf.build_pdf(["fuzz compressed"], compress=True)
    docs["rc4"] = minipdf.build_pdf(["fuzz encrypted"], compress=True,
                                    encrypt="", encrypt_rev=3)
    docs["aes"] = minipdf.build_pdf(["fuzz aes"], encrypt="",
                                    encrypt_rev=4)
    return docs


_FIXTURES = _fixtures()


@pytest.mark.parametrize("name", sorted(_FIXTURES))
def test_fixture_tables_match(name):
    _assert_same(_FIXTURES[name])


@pytest.mark.parametrize("seed", range(8))
def test_mutated_fixture_tables_match(seed):
    """Truncations, bit flips, range deletions and spliced
    `N G obj` / `endstream` tokens at random offsets."""
    rng = random.Random(seed)
    bases = [_FIXTURES[k] for k in sorted(_FIXTURES)]
    for _ in range(60):
        data = bytearray(rng.choice(bases))
        op = rng.randrange(4)
        if op == 0:
            data = data[: rng.randrange(1, len(data))]
        elif op == 1:
            for _ in range(rng.randrange(1, 9)):
                data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
        elif op == 2:
            i = rng.randrange(len(data))
            del data[i : i + rng.randrange(1, 64)]
        else:
            at = rng.randrange(len(data))
            data[at:at] = rng.choice(
                [b"9 0 obj", b" 12 0 obj\n", b"endstream", b"\nendobj\n",
                 b"7 0 obj << /Length 3 >> stream\nabc"])
        _assert_same(bytes(data))


def _stream_doc(content: bytes, length: int) -> bytes:
    return (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        + b"4 0 obj << /Length %d >> stream\n" % length
        + content
        + b"\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF\n"
    )


@pytest.mark.parametrize("length_delta", [0, -5, 7, 10_000])
def test_object_header_inside_a_stream_body(length_delta):
    """Text holding `9 0 obj` (and `1 0 obj`, which would shadow the
    catalog) must not enter the table, whether /Length is right,
    short, long or past the end of the file."""
    content = (b"BT /F1 12 Tf (9 0 obj << /Type /Page >> endobj) Tj ET\n"
               b"% 1 0 obj << /Type /Bogus >> endobj\n")
    data = _stream_doc(content, len(content) + length_delta)
    _assert_same(data)
    objects, _ = _scan(data)
    assert 9 not in objects
    assert objects[1] == {"/Type": "/Catalog", "/Pages": minipdf.Ref(2)}


def test_stream_without_endstream_is_skipped():
    data = _stream_doc(b"(2 0 obj) Tj", 3)
    _assert_same(data[: data.index(b"\nendstream")])


def test_real_pdf_tables_match():
    docs = [pathlib.Path(p) for p in _REAL if pathlib.Path(p).exists()]
    if not docs:
        pytest.skip("real corpus not installed")
    for path in docs:
        _assert_same(path.read_bytes())


# -- trailers -----------------------------------------------------------

def _every_byte_trailers(doc: PdfDocument) -> list[dict]:
    """The trailer search over every byte of the file, stream bodies
    included, plus the /Type /XRef stream dicts."""
    import re

    out: list[dict] = []
    for m in re.finditer(rb"trailer\b", doc._data):
        try:
            d, _ = parse_value(doc._data, m.end())
        except (ValueError, IndexError):
            continue
        if isinstance(d, dict):
            out.append(d)
    for obj in doc.objects.values():
        v = obj.sdict if isinstance(obj, StreamObj) else obj
        if isinstance(v, dict) and v.get("/Type") == "/XRef":
            out.append(v)
    return out


def _assert_same_trailers(data: bytes) -> bool:
    """Compare the two trailer searches on a document none of whose
    streams holds the word; False (nothing compared) otherwise."""
    doc = PdfDocument.__new__(PdfDocument)
    doc._data, doc.objects, doc._gens = data, {}, {}
    doc._scan(data)
    if any(isinstance(o, StreamObj) and b"trailer" in o.raw
           for o in doc.objects.values()):
        return False
    assert doc._trailer_dicts() == _every_byte_trailers(doc)
    return True


@pytest.mark.parametrize("name", sorted(_FIXTURES))
def test_fixture_trailers_match(name):
    assert _assert_same_trailers(_FIXTURES[name])


@pytest.mark.parametrize("seed", range(4))
def test_mutated_fixture_trailers_match(seed):
    """Truncations, bit flips, range deletions and spliced object,
    stream and trailer tokens at random offsets."""
    rng = random.Random(seed)
    bases = [_FIXTURES[k] for k in sorted(_FIXTURES)]
    for _ in range(60):
        data = bytearray(rng.choice(bases))
        op = rng.randrange(4)
        if op == 0:
            data = data[: rng.randrange(1, len(data))]
        elif op == 1:
            for _ in range(rng.randrange(1, 9)):
                data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
        elif op == 2:
            i = rng.randrange(len(data))
            del data[i : i + rng.randrange(1, 64)]
        else:
            at = rng.randrange(len(data))
            data[at:at] = rng.choice(
                [b" 12 0 obj\n", b"endstream", b"\nendobj\n",
                 b"trailer << /Size 3 >>\n"])
        _assert_same_trailers(bytes(data))


def test_real_pdf_trailers_match():
    docs = [pathlib.Path(p) for p in _REAL if pathlib.Path(p).exists()]
    if not docs:
        pytest.skip("real corpus not installed")
    for path in docs:
        assert _assert_same_trailers(path.read_bytes())


def test_trailer_word_in_page_text_is_not_a_trailer():
    """A page that shows `trailer << /Encrypt 99 0 R >>` opens as a
    plain document; the every-byte search took it for the trailer that
    declares the file encrypted."""
    pdf = minipdf.build_pdf(["see the trailer << /Encrypt 99 0 R >> here"])
    assert minipdf.extract_page_texts(pdf) == [
        "see the trailer << /Encrypt 99 0 R >> here"
    ]
    doc = PdfDocument(pdf)
    assert all("/Encrypt" not in d for d in doc._trailer_dicts())
    assert doc.profile()["encrypted"] is False


def test_trailer_word_in_page_text_adds_no_info():
    """`/Info` and the encrypted flag read the same trailer dicts as
    decryption, so page text cannot inject a document title."""
    pdf = minipdf.build_pdf(["trailer << /Info 5 0 R >>", "two"])
    pdf = pdf.replace(b"%%EOF", b"5 0 obj << /Title (Fake) >> endobj\n%%EOF")
    doc = PdfDocument(pdf)
    assert "Title" not in doc.info()
    assert doc.profile()["encrypted"] is False
