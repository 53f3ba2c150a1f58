"""Minimal pure-Python PDF text extraction + generation (tier A5).

Upstream's whole purpose is real PDF text extraction (poppler's
pdftotext). That native stack is absent here, so this module
implements the subset of ISO 32000 needed to pull page text out of
real simple PDFs with ONLY the standard library:

- object scanner (``N G obj … endobj``, robust without an xref),
- object syntax parser (dicts, arrays, names with ``#xx`` escapes,
  literal/hex strings, numbers, refs, booleans, null),
- streams with ``/FlateDecode`` (stdlib zlib), ``/LZWDecode``,
  ``/ASCIIHexDecode``, ``/ASCII85Decode``, ``/RunLengthDecode``,
  TIFF/PNG ``/Predictor`` post-processing, and PDF 1.5 object
  streams (``/Type /ObjStm``),
- page-tree walk (``/Catalog → /Pages → /Kids → /Page``) in document
  order with /Resources inheritance,
- content-stream interpreter for the text-showing operators ``Tj``,
  ``TJ``, ``'``, ``"`` with line breaks from ``Td/TD/T*/Tm``,
- /ToUnicode CMap decoding for CID/Type0 (and any ToUnicode-carrying)
  fonts: ``bfchar``/``bfrange``/``codespacerange``, multi-unit
  ligature destinations, per-``Tf`` font switching.

Encrypted PDFs (Standard security handler) decrypt transparently
via ``pdfcrypt`` + ``_aes``: RC4 /R 2–3, crypt-filter RC4/AES-128
(/V 4, AESV2) and AES-256 (/V 5 /R 5–6, AESV3) — the
owner-locked-but-readable files common in the wild open with the
default empty password; pass ``password=`` (user OR owner) for
protected files. Out of scope (documented limits, not silent
wrongness): CID fonts WITHOUT a /ToUnicode CMap (glyph bytes decode
as Latin-1 ≈ PDFDoc/WinAnsi for the printable range — recovering
text there needs the font program itself), non-Standard security
handlers (raise ``ValueError``), and unsupported filters like
/DCTDecode images (raise ``ValueError`` naming the filter).

``build_pdf`` is the inverse: a spec-valid single-font PDF writer
(proper xref + trailer, optional FlateDecode) used for golden
round-trip tests — text → PDF bytes → extracted text must be exact.
"""

from __future__ import annotations

import functools
import math
import re
import struct
import zlib
from bisect import bisect_left, bisect_right
from codecs import charmap_decode as _charmap_decode
from dataclasses import dataclass
from operator import itemgetter
from typing import Any

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

#: sentinel for "not parsed yet" in the lazy ObjStm member table
#: (PDF ``null`` parses to None, so None cannot mark absence)
_UNSET = object()


@dataclass(frozen=True)
class Ref:
    """Indirect object reference ``N G R`` (generation ignored — the
    scanner keeps the LAST definition of each object number, which is
    what an incremental update means)."""

    num: int


@dataclass
class StreamObj:
    sdict: dict
    raw: bytes  # still encoded; use decoded()


#: whitespace runs interleaved with '%'-to-EOL comments, matched in
#: one C-speed scan (may match empty — .end() is then just ``pos``)
_WS_RUN = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*")


def _skip_ws(data: bytes, pos: int) -> int:
    return _WS_RUN.match(data, pos).end()


#: a number token; it is a float when it holds a '.' — tested as
#: ``0x2E in tok``: an int operand of ``in`` is one memchr, a bytes
#: operand first acquires a buffer (several times slower per token)
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)")


#: the only bytes a literal-string scanner must stop at — everything
#: between them is copied in one slice instead of per byte
_LITSTR_SPECIAL = re.compile(rb"[\\()]")

#: a string with no escapes and no nested parens — the overwhelmingly
#: common show-string shape — lexes in ONE match
_LITSTR_SIMPLE = re.compile(rb"\(([^\\()]*)\)")


def _parse_literal_string(data: bytes, pos: int) -> tuple[bytes, int]:
    """``(...)`` with nested parens and backslash escapes."""
    m = _LITSTR_SIMPLE.match(data, pos)
    if m:
        return m.group(1), m.end()
    if data[pos] != 0x28:
        raise ValueError("expected literal string")
    pos += 1
    out = bytearray()
    depth = 1
    n = len(data)
    search = _LITSTR_SPECIAL.search
    while pos < n:
        m = search(data, pos)
        if m is None:
            break  # no closer left: unterminated
        i = m.start()
        if i > pos:  # bulk-copy the ordinary-byte run
            out += data[pos:i]
            pos = i
        c = data[pos]
        if c == 0x5C:  # backslash
            pos += 1
            if pos >= n:
                break
            e = data[pos]
            if e in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                pos += 1
            elif e in b"()\\":
                out.append(e)
                pos += 1
            elif e in b"01234567":  # \ddd octal, 1-3 digits
                digits = bytearray()
                while pos < n and len(digits) < 3 and data[pos] in b"01234567":
                    digits.append(data[pos])
                    pos += 1
                out.append(int(digits, 8) & 0xFF)
            elif e in b"\r\n":  # line continuation
                pos += 1
                if e == 0x0D and pos < n and data[pos] == 0x0A:
                    pos += 1
            else:  # unknown escape: emit the char itself (spec)
                out.append(e)
                pos += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
            out.append(c)
            pos += 1
        else:
            out.append(c)
            pos += 1
    raise ValueError("unterminated literal string")


def _parse_hex_string(data: bytes, pos: int) -> tuple[bytes, int]:
    if data[pos] != 0x3C:
        raise ValueError("expected hex string")
    end = data.index(b">", pos + 1)
    hexdigits = bytes(
        c for c in data[pos + 1 : end] if c not in _WS
    ).decode("ascii")
    if len(hexdigits) % 2:
        hexdigits += "0"
    return bytes.fromhex(hexdigits), end + 1


#: run of name-body bytes (anything but whitespace/delimiters) —
#: names without a #xx escape decode in one slice
_NAME_BODY = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")


def _parse_name(data: bytes, pos: int) -> tuple[str, int]:
    if data[pos] != 0x2F:
        raise ValueError("expected name")
    pos += 1
    body = _NAME_BODY.match(data, pos).group()
    if 0x23 not in body:  # common path: no #xx escape
        return "/" + body.decode("latin-1"), pos + len(body)
    out = bytearray()
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS or c in _DELIM:
            break
        if c == 0x23 and pos + 2 < n:  # #xx hex escape
            out.append(int(data[pos + 1 : pos + 3], 16))
            pos += 3
        else:
            out.append(c)
            pos += 1
    return "/" + out.decode("latin-1"), pos


#: optional whitespace + one OBJECT-array element in ONE C-level
#: match: an ``N G R`` indirect reference (plain-whitespace
#: separators), a number that provably CANNOT open a reference (not
#: followed by ws+digit+ws+R) with no %-comment ambiguity nearby, or
#: the closing ``]``. Anything else — comments between tokens,
#: strings, names, nested containers, signed "refs" — falls back to
#: the exact recursive path.
_WS_OBJELEM_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]*"
    rb"(?:(\d+)[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+R"
    rb"(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
    rb"|([+-]?(?:\d+\.\d*|\.\d+|\d+))"
    # token boundary FIRST: without it the engine backtracks the
    # greedy \d+ to a shorter digit run to satisfy the negative
    # lookaheads ('12 34R' must not lex as '1' + ...)
    rb"(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
    rb"(?![\x00\t\n\x0c\r ]*%)"
    rb"(?![\x00\t\n\x0c\r ]*\d+[\x00\t\n\x0c\r ]*[R%])"
    rb"|(\]))"
)

#: optional whitespace + the next DICT token in ONE C-level match:
#: the closing ``>>`` or a key name (body after '/')
_WS_DICTKEY_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]*(?:(>>)|/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*))"
)


def parse_value(data: bytes, pos: int) -> tuple[Any, int]:
    """One PDF object value starting at ``pos`` (after whitespace)."""
    pos = _skip_ws(data, pos)
    c = data[pos]
    if c == 0x3C:  # '<' — dict or hex string
        if data[pos + 1 : pos + 2] == b"<":
            pos += 2
            d: dict = {}
            key_match = _WS_DICTKEY_RE.match
            while True:
                m = key_match(data, pos)
                if m is None:  # comment / malformed: exact slow path
                    pos = _skip_ws(data, pos)
                    if data[pos : pos + 2] == b">>":
                        return d, pos + 2
                    key, pos = _parse_name(data, pos)
                elif m.lastindex == 1:  # '>>'
                    return d, m.end()
                else:
                    body = m.group(2)
                    if 0x23 in body:  # '#xx' escape: exact decode
                        key, pos = _parse_name(data, m.start(2) - 1)
                    else:
                        key, pos = "/" + body.decode("latin-1"), m.end()
                val, pos = parse_value(data, pos)
                d[key] = val
        return _parse_hex_string(data, pos)
    if c == 0x28:
        return _parse_literal_string(data, pos)
    if c == 0x5B:  # '['
        pos += 1
        arr: list = []
        elem_match = _WS_OBJELEM_RE.match
        append = arr.append
        while True:
            m = elem_match(data, pos)
            if m is None:  # string/name/container/comment/edge case
                pos = _skip_ws(data, pos)
                if data[pos] == 0x5D:
                    return arr, pos + 1
                v, pos = parse_value(data, pos)
                append(v)
                continue
            pos = m.end()
            gi = m.lastindex
            if gi == 2:  # 'N G R' (groups 1+2)
                append(Ref(int(m.group(1))))
            elif gi == 3:  # number that cannot be a reference
                tok = m.group(3)
                append(float(tok) if 0x2E in tok else int(tok))
            else:  # ']'
                return arr, pos
    if c == 0x2F:
        return _parse_name(data, pos)
    if data.startswith(b"true", pos):
        return True, pos + 4
    if data.startswith(b"false", pos):
        return False, pos + 5
    if data.startswith(b"null", pos):
        return None, pos + 4
    m = _NUM_RE.match(data, pos)
    if m:
        tok = m.group()
        if 0x2E in tok:  # a real can never open an 'N G R' reference
            return float(tok), m.end()
        after = _skip_ws(data, m.end())
        # 'N G R' lookahead → indirect reference
        m2 = _NUM_RE.match(data, after)
        if m2:
            after2 = _skip_ws(data, m2.end())
            if data[after2 : after2 + 1] == b"R" and (
                after2 + 1 >= len(data)
                or data[after2 + 1] in _WS
                or data[after2 + 1] in _DELIM
            ):
                return Ref(int(tok)), after2 + 1
        return int(tok), m.end()
    raise ValueError(f"cannot parse PDF value at byte {pos}: {data[pos:pos+20]!r}")


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """PDF LZWDecode (ISO 32000 §7.4.4): 9→12-bit variable-width
    codes, 256=clear, 257=EOD, table growth one code early when
    EarlyChange=1 (the default)."""
    out = bytearray()
    base = {i: bytes([i]) for i in range(256)}
    table = dict(base)
    next_code, width = 258, 9
    prev: bytes | None = None
    buf = nbits = 0
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = dict(base)
                next_code, width, prev = 258, 9, None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code in table:
                entry = table[code]
                table[next_code] = prev + entry[:1]
                next_code += 1
            elif code == next_code:
                entry = prev + prev[:1]
                table[next_code] = entry
                next_code += 1
            else:
                raise ValueError(f"bad LZW code {code}")
            out += entry
            prev = entry
            if next_code + early > (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _apply_predictor(data: bytes, pm: dict, resolve) -> bytes:
    """Post-decode predictor pass for Flate/LZW streams (PDF 7.4.4.4):
    /Predictor 2 = TIFF horizontal differencing, >= 10 = PNG filters
    (each row prefixed with a filter-type byte). Xref streams in
    particular are almost always /Predictor 12 (PNG Up)."""
    pred = int(resolve(pm.get("/Predictor", 1)) or 1)
    if pred <= 1:
        return data
    colors = int(resolve(pm.get("/Colors", 1)) or 1)
    bpc = int(resolve(pm.get("/BitsPerComponent", 8)) or 8)
    columns = int(resolve(pm.get("/Columns", 1)) or 1)
    bpp = max(1, colors * bpc // 8)  # bytes per pixel
    rowlen = (columns * colors * bpc + 7) // 8
    if pred == 2:  # TIFF: undo horizontal differencing in-place
        if bpc != 8:
            raise ValueError("TIFF predictor only supported for 8-bit")
        out = bytearray(data)
        for r0 in range(0, len(out), rowlen):
            for i in range(r0 + bpp, min(r0 + rowlen, len(out))):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    # PNG predictors: rows of (1 tag byte + rowlen data bytes)
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    while pos + 1 <= len(data):
        tag = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + rowlen])
        pos += 1 + rowlen
        if tag == 1:  # Sub
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif tag == 2:  # Up
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif tag == 3:  # Average
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif tag == 4:  # Paeth
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        elif tag != 0:
            raise ValueError(f"bad PNG predictor row tag {tag}")
        out.extend(row)
        prev = row
    return bytes(out)


def _rle_decode(data: bytes) -> bytes:
    """PDF RunLengthDecode (ISO 32000 §7.4.5): n<128 → copy n+1
    literal bytes; n>128 → repeat next byte 257−n times; 128 = EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            break
        if length < 128:
            out += data[i : i + length + 1]
            i += length + 1
        else:
            if i >= n:
                raise ValueError("truncated RunLength stream")
            out += bytes([data[i]]) * (257 - length)
            i += 1
    return bytes(out)


def _parms_for_filter(
    sdict: dict, resolve, filter_name: str, fallback_keys: tuple
) -> dict:
    """Pick the /DecodeParms entry for ``filter_name``. Per PDF 7.4
    a /DecodeParms ARRAY aligns index-wise with the /Filter array, so
    the entry at the filter's index wins even when it omits /K (legal
    — K defaults to 0). When the indexed entry is not a dict (null
    padding, length mismatch), fall back to the first dict carrying
    any of ``fallback_keys``."""
    parms = resolve(sdict.get("/DecodeParms"))
    if not isinstance(parms, list):
        return parms if isinstance(parms, dict) else {}
    filt = resolve(sdict.get("/Filter"))
    filt = [resolve(f) for f in (filt if isinstance(filt, list) else [filt])]
    if filter_name in filt:
        idx = filt.index(filter_name)
        if idx < len(parms):
            cand = resolve(parms[idx])
            if isinstance(cand, dict):
                return cand
    # fallback: first dict carrying a matching key that is NOT some
    # other filter's parms — a Flate/LZW /Predictor dict also carries
    # /Columns, so it must never be adopted for CCITT
    return next(
        (
            resolve(p)
            for p in parms
            if isinstance(resolve(p), dict)
            and "/Predictor" not in resolve(p)
            and any(k in resolve(p) for k in fallback_keys)
        ),
        {},
    )


def _jpeg_adaptor(doc, sdict, data: bytes, entry: dict):
    from pdf2dataset_spark.sources.jpeg import decode_jpeg

    return lambda: (*decode_jpeg(data), {})


def _jpx_adaptor(doc, sdict, data: bytes, entry: dict):
    from pdf2dataset_spark.sources.jpx import decode_jpx

    return lambda: (*decode_jpx(data), {})


def _ccitt_adaptor(doc, sdict, data: bytes, entry: dict):
    parms = _parms_for_filter(
        sdict,
        doc.resolve,
        "/CCITTFaxDecode",
        ("/K", "/Columns", "/Rows", "/EncodedByteAlign", "/BlackIs1"),
    )
    # all three K regimes decode: K<0 G4 (T.6), K==0 G3 1D (MH), K>0
    # G3 mixed 2D (EOL+tag framing)
    k = int(doc.resolve(parms.get("/K", 0)) or 0)
    cols = int(doc.resolve(parms.get("/Columns", 1728)) or 1728)
    nrows = doc.resolve(parms.get("/Rows")) or entry["height"] or None
    align = bool(doc.resolve(parms.get("/EncodedByteAlign", False)))
    params = {
        "k": k,
        "columns": cols,
        "rows": int(nrows) if nrows else None,
        "byte_align": align,
    }

    def decode():
        from pdf2dataset_spark.sources import ccitt

        # the entry keeps the params so consumers can re-decode
        return (*ccitt.decode_ccitt_gray(data, **params),
                {"ccitt_params": params})

    return decode


def _jbig2_adaptor(doc, sdict, data: bytes, entry: dict):
    parms = _parms_for_filter(
        sdict, doc.resolve, "/JBIG2Decode", ("/JBIG2Globals",)
    )
    gstream = doc.resolve(parms.get("/JBIG2Globals"))

    def decode():
        gbytes = (
            doc.stream_bytes(gstream)
            if isinstance(gstream, StreamObj)
            else None
        )
        from pdf2dataset_spark.sources import jbig2

        # consumers re-decode with the globals, like ccitt_params
        return (*jbig2.decode_jbig2_gray(data, gbytes),
                {"jbig2_globals": gbytes} if gbytes else {})

    return decode


#: image-compression filters: the decoded form IS a compressed image
#: file, transcoded (or honestly surfaced) by page_images, never by
#: the text path. Each maps to (entry ``format``, decode adaptor, the
#: exceptions that mark its payload undecodable — corrupt, or outside
#: the decoder's scope). An adaptor ``(doc, sdict, data, entry)``
#: reads the filter's /DecodeParms, whose errors raise out of
#: page_images, and returns a thunk that page_images runs inside its
#: ``try``, giving ``(width, height, pixels, extra entry keys)``.
_IMAGE_DECODERS = {
    "/DCTDecode": (
        "jpeg", _jpeg_adaptor,
        (ValueError, IndexError, struct.error, KeyError, zlib.error),
    ),
    "/JPXDecode": (
        "jpx", _jpx_adaptor, (ValueError, IndexError, KeyError, struct.error),
    ),
    "/CCITTFaxDecode": ("ccitt", _ccitt_adaptor, (ValueError, IndexError)),
    "/JBIG2Decode": (
        "jbig2", _jbig2_adaptor,
        (ValueError, IndexError, KeyError, struct.error, zlib.error),
    ),
}
#: a tuple, not the dict: a malformed /Filter entry may be unhashable
_IMAGE_FILTERS = tuple(_IMAGE_DECODERS)


def _run_filter_chain(
    data: bytes,
    filt: Any,
    parms: Any,
    resolve,
    stop_at_image: bool,
) -> tuple[bytes, str | None]:
    """Apply a /Filter value (name or list) to ``data``. Shared by
    object streams (PdfDocument._decode_filters) and inline images
    (whose dict lives in the content stream, not an object)."""
    if filt is None:
        return data, None
    filters = filt if isinstance(filt, list) else [filt]
    parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
    for f, pm in zip(filters, parms_list):
        f = resolve(f)
        if stop_at_image and f in _IMAGE_FILTERS:
            return data, f
        pm = resolve(pm) or {}
        if f == "/FlateDecode":
            data = _apply_predictor(zlib.decompress(data), pm, resolve)
        elif f == "/LZWDecode":
            early = resolve(pm.get("/EarlyChange", 1))
            data = _apply_predictor(
                _lzw_decode(data, early=int(early)), pm, resolve
            )
        elif f == "/ASCIIHexDecode":
            body = data.split(b">")[0]
            hx = bytes(c for c in body if c not in _WS).decode("ascii")
            if len(hx) % 2:
                hx += "0"
            data = bytes.fromhex(hx)
        elif f == "/RunLengthDecode":
            data = _rle_decode(data)
        elif f == "/ASCII85Decode":
            import base64

            body = bytes(c for c in data if c not in _WS)
            if body.endswith(b"~>"):
                body = body[:-2]
            data = base64.a85decode(b"<~" + body + b"~>", adobe=True)
        else:
            raise ValueError(f"unsupported stream filter {f}")
    return data, None


#: inline-image (BI..ID..EI) abbreviated keys / values, ISO 32000-1
#: Table 93: the dict between BI and ID uses short names
_INLINE_KEYS = {
    "/W": "/Width", "/H": "/Height", "/BPC": "/BitsPerComponent",
    "/CS": "/ColorSpace", "/F": "/Filter", "/DP": "/DecodeParms",
    "/D": "/Decode", "/IM": "/ImageMask", "/I": "/Interpolate",
}
_INLINE_FILTERS = {
    "/AHx": "/ASCIIHexDecode", "/A85": "/ASCII85Decode",
    "/LZW": "/LZWDecode", "/Fl": "/FlateDecode",
    "/RL": "/RunLengthDecode", "/CCF": "/CCITTFaxDecode",
    "/DCT": "/DCTDecode",
}
_INLINE_CS = {"/G": "/DeviceGray", "/RGB": "/DeviceRGB",
              "/CMYK": "/DeviceCMYK", "/I": "/Indexed"}
_CS_COMPONENTS = {"/DeviceGray": 1, "/DeviceRGB": 3, "/DeviceCMYK": 4,
                  "/Indexed": 1}

_BI_RE = re.compile(rb"(?:^|[\s])BI([\s/])", re.S)
_EI_RE = re.compile(rb"[\s]EI(?=[\s]|$)", re.S)


def _expand_inline(v: Any) -> Any:
    if isinstance(v, list):
        return [_expand_inline(x) for x in v]
    if isinstance(v, str):
        return _INLINE_FILTERS.get(v, _INLINE_CS.get(v, v))
    return v


def inline_images(content: bytes, resolve=lambda v: v) -> list[dict]:
    """BI..ID..EI inline images of a content stream (ISO 32000-1
    §8.9.7) as (params_dict, data) entries with abbreviated keys and
    filter/colorspace names expanded. For unfiltered data the extent
    is computed exactly from W*H*BPC*components (rows byte-padded);
    for filtered data candidate EI delimiters are tried until the
    filter chain decodes (a raw `EI` inside compressed bytes cannot
    end the scan early)."""
    out: list[dict] = []
    for m in _BI_RE.finditer(content):
        dict_start = m.end() - 1  # keep the [\s/] byte
        id_m = re.compile(rb"[\s]ID[\s]").search(content, dict_start)
        if not id_m:
            continue
        try:
            params_raw, _ = parse_value(
                b"<<" + content[dict_start : id_m.start()] + b">>", 0
            )
        except (ValueError, IndexError):
            continue
        if not isinstance(params_raw, dict):
            continue
        params = {
            _INLINE_KEYS.get(k, k): _expand_inline(v)
            for k, v in params_raw.items()
        }
        data_start = id_m.end()
        filt = params.get("/Filter")
        try:
            w = int(resolve(params.get("/Width", 0)) or 0)
            h = int(resolve(params.get("/Height", 0)) or 0)
        except (TypeError, ValueError):
            continue  # one malformed inline image must not abort the scan
        if filt is None:
            cs = resolve(params.get("/ColorSpace", "/DeviceGray"))
            # Array colorspaces ([/Indexed base hival lookup],
            # [/ICCBased ref], ...) are unhashable; /Indexed is always
            # 1 component (an index into the palette), anything else
            # unknown falls back to 1 rather than aborting the scan.
            if isinstance(cs, list):
                cs = "/Indexed" if cs and cs[0] == "/Indexed" else None
            ncomp = _CS_COMPONENTS.get(cs, 1) if isinstance(cs, str) else 1
            try:
                bpc = int(resolve(params.get("/BitsPerComponent", 8)) or 8)
            except (TypeError, ValueError):
                continue
            if params.get("/ImageMask") is True:
                ncomp, bpc = 1, 1
            row = -(-(w * ncomp * bpc) // 8)
            end = data_start + row * h
            out.append({"params": params, "data": content[data_start:end]})
            continue
        # filtered: try successive EI candidates until the chain decodes
        for ei in _EI_RE.finditer(content, data_start):
            data = content[data_start : ei.start()]
            try:
                decoded, stopped = _run_filter_chain(
                    data, filt, params.get("/DecodeParms"), resolve, True
                )
            except (ValueError, zlib.error, IndexError):
                continue
            if stopped == "/DCTDecode" and not decoded.rstrip().endswith(
                b"\xff\xd9"
            ):
                continue  # an EI inside the JPEG byte stream
            out.append({"params": params, "data": data})
            break
    return out


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_TRAILER_RE = re.compile(rb"trailer\b")


class PdfDocument:
    """Parsed object table + page tree of one PDF file."""

    def __init__(self, data: bytes, password: bytes = b""):
        if not data.lstrip()[:5].startswith(b"%PDF-"):
            raise ValueError("not a PDF: missing %PDF- header")
        self._data = data
        self.objects: dict[int, Any] = {}
        self._gens: dict[int, int] = {}
        #: finished decode maps keyed by id(font dict) — fonts are
        #: shared across a document's pages, so building the map
        #: (ToUnicode parse / 256-entry encoding table / maketrans)
        #: once per FONT instead of once per PAGE removes the
        #: dominant per-page parse cost (measured 47% of open()).
        #: The cache holds the font dict itself so the id stays
        #: valid for the document's lifetime.
        self._font_map_cache: dict[int, tuple[Any, dict]] = {}
        self._lazy: dict[int, list] = {}  # filled by _expand_object_streams
        self._scan(data)
        self._setup_encryption(password)
        self._expand_object_streams()

    # -- object table -------------------------------------------------
    def _scan(self, data: bytes) -> None:
        # Sequential consumption: once an object (including its stream
        # body) is parsed, matches of `N G obj` INSIDE it are skipped —
        # otherwise document text like "1 0 obj ... endobj" in an
        # uncompressed content stream would shadow real objects
        # (last-definition-wins would corrupt the table). The search
        # resumes past a consumed stream body instead of regex-scanning
        # it: no match can straddle the body's end (only whitespace and
        # "endstream" follow it), so the matches found are exactly those
        # a scan of every byte would keep.
        consumed_to = resume = 0
        #: (start, end) of the bytes between consumed objects, where
        #: the trailers live (see _trailer_dicts)
        self._gaps = gaps = []
        search = _OBJ_RE.search
        while (m := search(data, resume)) is not None:
            resume = m.end()
            if m.start() < consumed_to:
                continue
            num = int(m.group(1))
            try:
                val, pos = parse_value(data, m.end())
            except (ValueError, IndexError):
                continue
            self._gens[num] = int(m.group(2))
            pos = _skip_ws(data, pos)
            if data.startswith(b"stream", pos) and isinstance(val, dict):
                p = pos + 6
                if data[p : p + 2] == b"\r\n":
                    p += 2
                elif data[p : p + 1] in (b"\n", b"\r"):
                    p += 1
                length = val.get("/Length") if isinstance(val, dict) else None
                raw = None
                if isinstance(length, int):
                    cand_end = p + length
                    if data[cand_end : cand_end + 12].lstrip(_WS).startswith(
                        b"endstream"
                    ):
                        raw = data[p:cand_end]
                if raw is None:  # /Length indirect or wrong → search
                    e = data.find(b"endstream", p)
                    if e == -1:
                        continue
                    raw = data[p:e].rstrip(b"\r\n")
                self.objects[num] = StreamObj(val, raw)
                gaps.append((consumed_to, m.start()))
                consumed_to = resume = p + len(raw)
            else:
                # last definition wins (incremental updates append)
                self.objects[num] = val
                gaps.append((consumed_to, m.start()))
                consumed_to = pos
        gaps.append((consumed_to, len(data)))

    # -- encryption ---------------------------------------------------
    def _trailer_dicts(self) -> list[dict]:
        """Every trailer dict plus every /Type /XRef stream dict —
        the places /Encrypt, /ID and /Info live.

        ``trailer`` is searched for only between the objects ``_scan``
        consumed: the word inside a stream body or a string is page
        content, not a trailer. The search may run one byte into the
        next object's header (a digit, so no match ends there) so that
        ``\\b`` sees the byte after the gap."""
        data = self._data
        out: list[dict] = []
        for lo, hi in self._gaps:
            for m in _TRAILER_RE.finditer(data, lo, hi + 1):
                try:
                    d, _ = parse_value(data, m.end())
                except (ValueError, IndexError):
                    continue
                if isinstance(d, dict):
                    out.append(d)
        for obj in self.objects.values():
            v = obj.sdict if isinstance(obj, StreamObj) else obj
            if isinstance(v, dict) and v.get("/Type") == "/XRef":
                out.append(v)
        return out

    def _setup_encryption(self, password: bytes) -> None:
        """Standard-security-handler decryption: RC4 (/V 1–2, ISO
        32000-1 §7.6.3), crypt-filter RC4/AES-128 (/V 4, AESV2) and
        AES-256 (/V 5 /R 5–6, AESV3 — ISO 32000-2 §7.6.4). Derives
        the file key from the trailer's /Encrypt dict (+ first /ID
        element), verifies the password, then decrypts every stream
        and string in place. Unknown handlers and wrong passwords
        raise typed ValueErrors → `error` rows."""
        self._enc_key: bytes | None = None
        self._enc_mode = "rc4"  # "rc4" | "aes" | "none"
        self._enc_v5 = False
        enc_ref = None
        id0 = b""
        for d in self._trailer_dicts():
            if "/Encrypt" in d and enc_ref is None:
                enc_ref = d["/Encrypt"]
                ids = self.resolve(d.get("/ID"))
                if isinstance(ids, list) and ids and isinstance(ids[0], bytes):
                    id0 = ids[0]
        if enc_ref is None:
            return
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            raise ValueError("encrypted PDF: malformed /Encrypt dictionary")
        from pdf2dataset_spark.sources import pdfcrypt

        if self.resolve(enc.get("/Filter")) != "/Standard":
            raise ValueError(
                "encrypted PDF: unsupported security handler "
                f"{enc.get('/Filter')}"
            )
        v = int(self.resolve(enc.get("/V", 0)) or 0)
        r = int(self.resolve(enc.get("/R", 2)) or 2)
        o_val = self.resolve(enc.get("/O")) or b""
        u_val = self.resolve(enc.get("/U")) or b""
        p_val = int(self.resolve(enc.get("/P", -1)) or -1)

        def legacy_key(r: int, key_bytes: int, em: bool = True) -> bytes:
            # user-password path (Algorithm 2+6), then owner-password
            # fallback (Algorithm 7 yields the padded user password)
            key = pdfcrypt.file_key(
                password, o_val, p_val, id0, r, key_bytes, encrypt_metadata=em
            )
            if pdfcrypt.check_user_password(key, u_val, id0, r):
                return key
            alt = pdfcrypt.owner_to_user_padded(password, o_val, r, key_bytes)
            key = pdfcrypt.file_key(
                alt, o_val, p_val, id0, r, key_bytes, encrypt_metadata=em
            )
            if pdfcrypt.check_user_password(key, u_val, id0, r):
                return key
            raise ValueError(
                "encrypted PDF: password verification failed "
                "(user password required)"
            )

        if v in (1, 2) and r in (2, 3):
            bits = (
                int(self.resolve(enc.get("/Length", 40)) or 40) if v == 2 else 40
            )
            key = legacy_key(r, bits // 8)
        elif v == 4:
            cf = self.resolve(enc.get("/CF")) or {}
            stdcf = self.resolve(cf.get("/StdCF")) or {}
            cfm = self.resolve(stdcf.get("/CFM")) or "/Identity"
            if cfm == "/AESV2":
                self._enc_mode = "aes"
            elif cfm == "/V2":
                self._enc_mode = "rc4"
            elif cfm == "/Identity":
                self._enc_mode = "none"
            else:
                raise ValueError(
                    f"encrypted PDF: unsupported crypt filter {cfm}"
                )
            em = self.resolve(enc.get("/EncryptMetadata", True))
            bits = int(self.resolve(enc.get("/Length", 128)) or 128)
            key = legacy_key(4, bits // 8, em=bool(em))
        elif v == 5 and r in (5, 6):
            self._enc_mode = "aes"
            self._enc_v5 = True
            ue_val = self.resolve(enc.get("/UE")) or b""
            oe_val = self.resolve(enc.get("/OE")) or b""
            if pdfcrypt.v5_auth_user(password, u_val, r):
                key = pdfcrypt.v5_file_key_user(password, u_val, ue_val, r)
            elif pdfcrypt.v5_auth_owner(password, o_val, u_val, r):
                key = pdfcrypt.v5_file_key_owner(
                    password, o_val, u_val, oe_val, r
                )
            else:
                raise ValueError(
                    "encrypted PDF: password verification failed "
                    "(user password required)"
                )
        else:
            raise ValueError(f"encrypted PDF: unsupported /V {v} /R {r}")
        self._enc_key = key
        enc_num = enc_ref.num if isinstance(enc_ref, Ref) else None
        self._decrypt_objects(enc_num)

    def _decrypt_objects(self, enc_num: int | None) -> None:
        """Decrypt every stream body and every string with the
        per-object key (RC4) or IV-prefixed AES-CBC. The /Encrypt
        dict itself and cross-reference streams are never encrypted
        (ISO 32000-1 §7.5.8.2, §7.6.1)."""
        if self._enc_mode == "none":
            return
        from pdf2dataset_spark.sources import pdfcrypt

        aes = self._enc_mode == "aes"
        if aes:
            from pdf2dataset_spark.sources import _aes

        def dec_bytes(okey: bytes, data: bytes) -> bytes:
            if not aes:
                return pdfcrypt.rc4(okey, data)
            if len(data) < 32 or len(data) % 16:
                # spec-valid AES payloads are IV + ≥1 block; anything
                # shorter is an unencrypted artifact — pass through
                return data
            return _aes.cbc_decrypt(okey, data)

        def dec_strings(v: Any, okey: bytes) -> Any:
            if isinstance(v, bytes):
                return dec_bytes(okey, v)
            if isinstance(v, list):
                return [dec_strings(x, okey) for x in v]
            if isinstance(v, dict):
                return {k: dec_strings(x, okey) for k, x in v.items()}
            return v

        for num, obj in self.objects.items():
            if num == enc_num:
                continue
            okey = (
                self._enc_key
                if self._enc_v5
                else pdfcrypt.object_key(
                    self._enc_key, num, self._gens.get(num, 0), aes=aes
                )
            )
            if isinstance(obj, StreamObj):
                if obj.sdict.get("/Type") == "/XRef":
                    continue
                obj.sdict = dec_strings(obj.sdict, okey)
                obj.raw = dec_bytes(okey, obj.raw)
            else:
                self.objects[num] = dec_strings(obj, okey)

    def _expand_object_streams(self) -> None:
        """Register /ObjStm members for LAZY parsing: the payload
        decode and (num, offset) header parse stay eager — so a
        malformed stream (zlib error, bad header) drops ALL its
        members exactly as the old eager loop did — but each member's
        ``parse_value`` is deferred to its first :meth:`resolve`.
        Most compressed objects (structure-tree elements, link
        annotations, name trees) are never touched by extraction, and
        parsing every member dominated document open time (~65-90%
        of members go unread on the real corpus). Claim precedence is
        unchanged: a top-level object, or an earlier stream's member,
        owns the number (the eager loop's ``setdefault``)."""
        #: onum -> [stream_rec, member_index, memoized value or _UNSET]
        self._lazy: dict[int, list] = {}
        for obj in list(self.objects.values()):
            if (
                isinstance(obj, StreamObj)
                and obj.sdict.get("/Type") == "/ObjStm"
            ):
                try:
                    payload = self.stream_bytes(obj)
                    n = self.resolve(obj.sdict.get("/N"))
                    first = self.resolve(obj.sdict.get("/First"))
                    header = payload[:first].split()
                    members = [
                        (int(header[2 * i]),
                         first + int(header[2 * i + 1]))
                        for i in range(n)
                    ]
                except (ValueError, IndexError, TypeError, zlib.error):
                    continue
                rec = (payload, members)
                lazy = self._lazy
                for idx, (onum, _off) in enumerate(members):
                    if onum not in self.objects and onum not in lazy:
                        lazy[onum] = [rec, idx, _UNSET]

    def _materialize(self, num: int) -> Any:
        """Parse ObjStm member ``num`` on first access (memoized).
        Members are INDEPENDENT (ISO 32000-1 §7.5.7 addresses each at
        its own offset): one that fails to parse drops only itself.
        The old eager loop incidentally dropped every later member of
        the stream too; independence salvages strictly more data from
        a corrupt file, and no extraction surface or golden depends
        on the old suffix-drop."""
        ent = self._lazy.get(num)
        if ent is None:
            return None
        if ent[2] is not _UNSET:
            return ent[2]
        rec, idx = ent[0], ent[1]
        try:
            val, _ = parse_value(rec[0], rec[1][idx][1])
        except (ValueError, IndexError):
            del self._lazy[num]  # absent, like any unparseable object
            return None
        ent[2] = val
        return val

    # -- access -------------------------------------------------------
    def resolve(self, v: Any) -> Any:
        seen = 0
        objects = self.objects
        while isinstance(v, Ref):
            num = v.num
            v = objects.get(num, _UNSET)
            if v is _UNSET:
                v = self._materialize(num)
            seen += 1
            if seen > 32:
                raise ValueError("reference cycle")
        return v

    def stream_bytes(self, obj: StreamObj) -> bytes:
        data, stopped = self._decode_filters(obj, stop_at_image=False)
        assert stopped is None  # stop_at_image=False always decodes fully
        return data

    def _decode_filters(
        self, obj: StreamObj, stop_at_image: bool
    ) -> tuple[bytes, str | None]:
        """Run ``obj``'s /Filter chain. With ``stop_at_image`` True the
        chain stops at an image-compression filter (/DCTDecode /
        /JPXDecode / /CCITTFaxDecode) and returns (bytes-so-far, that
        filter) — the bytes ARE the complete compressed image file at
        that point (e.g. a JFIF for /DCTDecode), which is what image
        extraction wants. With False an image filter raises, matching
        the documented text-path contract."""
        filt = self.resolve(obj.sdict.get("/Filter"))
        parms = self.resolve(obj.sdict.get("/DecodeParms"))
        return _run_filter_chain(
            obj.raw, filt, parms, self.resolve, stop_at_image
        )

    # -- metadata -----------------------------------------------------
    def info(self) -> dict[str, str]:
        """Document information dictionary (/Info from a trailer or
        xref-stream dict): Title/Author/Subject/Producer/... decoded
        to str (UTF-16 BOM honored). Empty dict when absent. Memoized
        (the title/author features read it once per page row)."""
        cached = getattr(self, "_info_cache", None)
        if cached is not None:
            return cached
        refs = [d["/Info"] for d in self._trailer_dicts() if "/Info" in d]
        out: dict[str, str] = {}
        for ref in refs:
            info = self.resolve(ref)
            if not isinstance(info, dict):
                continue
            for k, v in info.items():
                v = self.resolve(v)
                if isinstance(v, bytes):
                    out[k.lstrip("/")] = _decode_text_string(v)
                elif isinstance(v, (str, int, float, bool)):
                    out[k.lstrip("/")] = str(v)
        self._info_cache = out
        return out

    def page_annotations(self, page: dict) -> list[str]:
        """Text carried by a page's annotations (ISO 32000 §12.5), in
        /Annots array order: markup /Contents strings (comments,
        highlights, free text) and form-field values (/V — string
        values decoded, name values stripped of the slash). /Popup
        annotations are skipped — their text duplicates the parent
        markup annotation's /Contents."""
        annots = self.resolve(page.get("/Annots"))
        out: list[str] = []
        if not isinstance(annots, list):
            return out
        for ref in annots:
            a = self.resolve(ref)
            if not isinstance(a, dict):
                continue
            if self.resolve(a.get("/Subtype")) == "/Popup":
                continue
            for key in ("/Contents", "/V"):
                v = self.resolve(a.get(key))
                if isinstance(v, bytes):
                    t = _decode_text_string(v).strip()
                    if t:
                        out.append(t)
                elif isinstance(v, str) and v.startswith("/"):
                    out.append(v[1:])  # name-valued field (radio/choice)
        return out

    def profile(self) -> dict:
        """Structural document facts (the corpus-faceting surface):

        - ``version``: the ``%PDF-1.x`` header, overridden by the
          catalog's /Version name when present (ISO 32000-1 §7.7.2
          — incremental updates upgrade the version there, not in
          the immutable header).
        - ``linearized``: a ``/Linearized`` dictionary in the first
          2 KiB (§F.3.1 puts the linearization parameter dict first
          in the file; web-optimized documents).
        - ``tagged``: catalog /MarkInfo /Marked true, or a
          /StructTreeRoot (§14.7/14.8 — accessibility/structure
          trees, strongly correlated with clean extraction).
        - ``encrypted``: any trailer (classic or xref-stream)
          carrying /Encrypt — true even after successful
          decryption.

        Memoized."""
        cached = getattr(self, "_profile_cache", None)
        if cached is not None:
            return cached
        out: dict = {}
        m = re.match(rb"%PDF-(\d+\.\d+)", self._data[:16])
        ver = m.group(1).decode("ascii") if m else None
        try:
            cat = self._catalog()
        except ValueError:
            cat = {}
        v = self.resolve(cat.get("/Version")) if cat else None
        if isinstance(v, str) and v.startswith("/"):
            ver = v[1:]
        out["version"] = ver
        out["linearized"] = bool(
            re.search(rb"/Linearized\b", self._data[:2048])
        )
        mi = self.resolve(cat.get("/MarkInfo")) if cat else None
        out["tagged"] = bool(
            (isinstance(mi, dict)
             and self.resolve(mi.get("/Marked")) is True)
            or (cat and self.resolve(cat.get("/StructTreeRoot"))
                is not None)
        )
        out["encrypted"] = any("/Encrypt" in d for d in self._trailer_dicts())
        self._profile_cache = out
        return out

    def xmp(self) -> dict[str, str]:
        """XMP metadata (ISO 32000-1 §14.3.1: the catalog's
        /Metadata XML stream) reduced to the flat keys the /Info
        dictionary also carries: Title / Author / CreationDate /
        ModDate. dc:title and dc:creator read their first rdf:li
        (element form) or the attribute form; date values pass
        through as the ISO-8601 strings XMP already uses. Empty
        dict when absent or unparseable — XMP is the FALLBACK
        surface, /Info wins where both exist. Memoized."""
        cached = getattr(self, "_xmp_cache", None)
        if cached is not None:
            return cached
        out: dict[str, str] = {}
        try:
            cat = self._catalog()
            md = self.resolve(cat.get("/Metadata"))
            if isinstance(md, StreamObj):
                import xml.etree.ElementTree as ET

                xml_bytes = self.stream_bytes(md)
                root = ET.fromstring(xml_bytes)
                want = {
                    "title": "Title", "creator": "Author",
                    "createdate": "CreationDate",
                    "modifydate": "ModDate",
                }

                def local(tag: str) -> str:
                    return tag.rsplit("}", 1)[-1].lower()

                for el in root.iter():
                    key = want.get(local(el.tag))
                    if key is not None and key not in out:
                        # element form: first rdf:li descendant,
                        # else the element's own text
                        txt = None
                        for li in el.iter():
                            if local(li.tag) == "li" and li.text:
                                txt = li.text
                                break
                        if txt is None and el.text and el.text.strip():
                            txt = el.text
                        if txt and txt.strip():
                            out[key] = txt.strip()
                    # attribute form (rdf:Description dc:title="...")
                    for ak, av in el.attrib.items():
                        key = want.get(local(ak))
                        if key is not None and key not in out \
                                and av.strip():
                            out[key] = av.strip()
        except (ValueError, zlib.error, IndexError, SyntaxError):
            pass  # malformed stream / XML: keep whatever parsed
        self._xmp_cache = out
        return out

    @staticmethod
    def parse_pdf_date(s: str) -> str | None:
        """PDF date string (ISO 32000-1 §7.9.4,
        ``D:YYYYMMDDHHmmSSOHH'mm``) → ISO 8601
        (``YYYY-MM-DDTHH:MM:SS±HH:MM`` / trailing ``Z`` / bare
        date-time when no offset). Lenient the way real files
        require: optional ``D:``, any truncation after YYYY
        (missing month/day default 01, missing time 00), offset
        minutes optional, trailing apostrophes ignored. None for
        strings that do not start with a 4-digit year. Values
        already in ISO form (XMP dates) pass through unchanged."""
        if not s:
            return None
        s = s.strip()
        if re.match(r"^\d{4}-\d{2}-\d{2}", s):
            return s  # already ISO (the XMP convention)
        if s.startswith("D:"):
            s = s[2:]
        m = re.match(
            r"^(\d{4})(\d{2})?(\d{2})?(\d{2})?(\d{2})?(\d{2})?"
            r"(?:([+\-Z])(?:(\d{2})'?(\d{2})?'?)?)?",
            s,
        )
        if not m or m.group(1) is None:
            return None
        y = m.group(1)
        mo, dy = m.group(2) or "01", m.group(3) or "01"
        hh, mi, ss = (m.group(4) or "00", m.group(5) or "00",
                      m.group(6) or "00")
        if not (1 <= int(mo) <= 12 and 1 <= int(dy) <= 31
                and int(hh) <= 23 and int(mi) <= 59 and int(ss) <= 60):
            return None
        base = f"{y}-{mo}-{dy}T{hh}:{mi}:{ss}"
        o = m.group(7)
        if o == "Z":
            return base + "Z"
        if o in ("+", "-") and m.group(8):
            return f"{base}{o}{m.group(8)}:{m.group(9) or '00'}"
        return base

    def page_properties(self, page: dict) -> dict:
        """Resolved /Properties entries of a page's /Resources (ISO
        32000-1 §14.6.2): marked-content property lists referenced
        BY NAME from ``BDC`` operators (``/Span /P1 BDC``). Each
        value is the property dict with its members resolved one
        level (an /ActualText carried as an indirect string resolves
        to its bytes). Inline ``BDC`` dicts never pass through here —
        the content lexer parses those directly.

        OPTIONAL CONTENT (§8.11): an entry that is an /OCG or /OCMD
        hidden under the document's DEFAULT configuration
        (/OCProperties /D — BaseState, then /ON, then /OFF) gets a
        private ``"__oc_hidden__": True`` member, the signal the
        text walkers use to suppress ``/OC .. BDC`` scopes the way
        every viewer and pdftotext do (a hidden language layer or
        alternate-content layer must not leak into extracted
        text)."""
        res = self.resolve(page.get("/Resources"))
        pd = self.resolve(res.get("/Properties")) \
            if isinstance(res, dict) else None
        out: dict = {}
        if not isinstance(pd, dict):
            return out
        for name, ref in pd.items():
            d = self.resolve(ref)
            if isinstance(d, dict):
                entry = {k: self.resolve(v) for k, v in d.items()}
                if self._oc_value_hidden(ref):
                    entry["__oc_hidden__"] = True
                out[name] = entry
        return out

    def _oc_off_nums(self) -> frozenset:
        """Object numbers of OCGs hidden under the DEFAULT optional-
        content configuration (ISO 32000-1 §8.11.4.3): /BaseState
        first (default /ON), then /ON turns groups on, then /OFF
        turns groups off (last wins). Empty when the document has no
        /OCProperties. Memoized."""
        cached = getattr(self, "_oc_off_cache", None)
        if cached is not None:
            return cached
        out: frozenset = frozenset()
        try:
            cat = self._catalog()
        except ValueError:
            cat = None
        ocp = self.resolve(cat.get("/OCProperties")) if cat else None
        if isinstance(ocp, dict):
            d = self.resolve(ocp.get("/D"))
            if isinstance(d, dict):
                on = {r.num for r in
                      (self.resolve(d.get("/ON")) or [])
                      if isinstance(r, Ref)}
                off = {r.num for r in
                       (self.resolve(d.get("/OFF")) or [])
                       if isinstance(r, Ref)}
                if self.resolve(d.get("/BaseState")) == "/OFF":
                    base = {r.num for r in
                            (self.resolve(ocp.get("/OCGs")) or [])
                            if isinstance(r, Ref)}
                    out = frozenset((base - on) | off)
                else:
                    out = frozenset(off)
        self._oc_off_cache = out
        return out

    def _oc_value_hidden(self, raw: Any) -> bool:
        """True when an optional-content entry (an /OCG reference or
        an /OCMD) is hidden by the default configuration. OCMD
        visibility follows /P over its /OCGs (§8.11.2.2): /AnyOn
        (the default), /AllOn, /AnyOff, /AllOff; a /VE visibility
        expression is out of scope and falls back to /P."""
        off = self._oc_off_nums()
        if not off:
            return False
        d = self.resolve(raw)
        if not isinstance(d, dict):
            return False
        if self.resolve(d.get("/Type")) == "/OCMD":
            ocgs = d.get("/OCGs")
            refs = ocgs if isinstance(ocgs, list) else [ocgs]
            nums = [r.num for r in refs if isinstance(r, Ref)]
            if not nums:
                return False
            onflags = [n not in off for n in nums]
            p = self.resolve(d.get("/P")) or "/AnyOn"
            visible = {
                "/AnyOn": any(onflags),
                "/AllOn": all(onflags),
                "/AnyOff": not all(onflags),
                "/AllOff": not any(onflags),
            }.get(p, any(onflags))
            return not visible
        return isinstance(raw, Ref) and raw.num in off

    def outline(self) -> list[tuple[int, str]]:
        """Flattened document outline (bookmarks, ISO 32000 §12.3.3):
        (depth, title) pairs in reading order — depth-first /First
        child descent, /Next sibling walk, cycle-guarded (malformed
        files can link outline items into loops)."""
        try:
            cat = self._catalog()
        except ValueError:
            return []
        root = self.resolve(cat.get("/Outlines"))
        if not isinstance(root, dict):
            return []
        out: list[tuple[int, str]] = []
        seen: set[int] = set()

        def walk(node, depth: int) -> None:
            while isinstance(node, dict) and len(out) < 10_000:
                if id(node) in seen:
                    return
                seen.add(id(node))
                t = self.resolve(node.get("/Title"))
                if isinstance(t, bytes):
                    out.append((depth, _decode_text_string(t)))
                walk(self.resolve(node.get("/First")), depth + 1)
                node = self.resolve(node.get("/Next"))

        walk(self.resolve(root.get("/First")), 0)
        return out

    def attachments(self) -> list[dict]:
        """Embedded file attachments (ISO 32000 §7.11, §12.5.6.15):
        the catalog's /Names → /EmbeddedFiles name tree (flat /Names
        arrays and /Kids subtrees) plus /FileAttachment annotations'
        /FS filespecs, in discovery order. Each entry carries ``name``
        (/UF preferred over /F, text-string decoded), ``data`` (the
        /EF stream, filters undone) and ``size`` (actual byte count).
        Malformed filespecs are skipped, never guessed at."""
        out: list[dict] = []
        seen_streams: set[int] = set()

        def filespec(fs) -> None:
            fs = self.resolve(fs)
            if not isinstance(fs, dict):
                return
            ef = self.resolve(fs.get("/EF"))
            if not isinstance(ef, dict):
                return
            stream = self.resolve(ef.get("/UF"))
            if not isinstance(stream, StreamObj):
                stream = self.resolve(ef.get("/F"))
            if not isinstance(stream, StreamObj) or id(stream) in seen_streams:
                return
            try:
                data = self.stream_bytes(stream)
            except (ValueError, IndexError, zlib.error):
                return
            seen_streams.add(id(stream))
            name = self.resolve(fs.get("/UF"))
            if not isinstance(name, bytes):
                name = self.resolve(fs.get("/F"))
            out.append(
                {
                    "name": _decode_text_string(name)
                    if isinstance(name, bytes)
                    else "",
                    "data": data,
                    "size": len(data),
                }
            )

        def tree(node, depth: int = 0) -> None:
            node = self.resolve(node)
            if not isinstance(node, dict) or depth > 32:
                return
            names = self.resolve(node.get("/Names"))
            if isinstance(names, list):
                for i in range(1, len(names), 2):
                    filespec(names[i])
            for kid in self.resolve(node.get("/Kids")) or []:
                tree(kid, depth + 1)

        try:
            cat = self._catalog()
        except ValueError:
            return out
        nm = self.resolve(cat.get("/Names"))
        if isinstance(nm, dict):
            tree(nm.get("/EmbeddedFiles"))
        try:
            pages = self.pages()
        except ValueError:
            pages = []
        for page in pages:
            for ref in self.resolve(page.get("/Annots")) or []:
                a = self.resolve(ref)
                if (
                    isinstance(a, dict)
                    and self.resolve(a.get("/Subtype")) == "/FileAttachment"
                ):
                    filespec(a.get("/FS"))
        return out

    # -- page tree ----------------------------------------------------
    def _catalog(self) -> dict:
        for obj in self.objects.values():
            v = obj.sdict if isinstance(obj, StreamObj) else obj
            if isinstance(v, dict) and v.get("/Type") == "/Catalog":
                return v
        # the pdfTeX norm: the catalog lives inside an /ObjStm. Walk
        # the lazy table in registration order (stream scan order,
        # then header order — the old eager loop's insertion order);
        # a cheap bytes hint skips whole streams that cannot contain
        # one, so only candidate members pay a parse.
        hint: dict[int, bool] = {}  # id(stream_rec) -> payload has it
        for num in list(self._lazy):
            ent = self._lazy.get(num)
            if ent is None:
                continue
            if ent[2] is _UNSET:
                rec = ent[0]
                k = id(rec)
                if k not in hint:
                    hint[k] = b"/Catalog" in rec[0]
                if not hint[k]:
                    continue
            v = self._materialize(num)
            if isinstance(v, dict) and v.get("/Type") == "/Catalog":
                return v
        # a '#'-escaped /Catalog name defeats the bytes hint: full
        # materialization pass (= the old eager cost) before giving up
        for num in list(self._lazy):
            v = self._materialize(num)
            if isinstance(v, dict) and v.get("/Type") == "/Catalog":
                return v
        raise ValueError("no /Catalog object found")

    #: Inheritable page-tree attributes (ISO 32000-1 Table 30) the
    #: engine consumes; a page without its own picks up the nearest
    #: ancestor's, materialized into the page dict. (/CropBox is also
    #: inheritable per the spec but unused by any surface here.)
    _INHERITABLE = ("/Resources", "/MediaBox", "/Rotate")

    def pages(self) -> list[dict]:
        """Page dicts in document order (depth-first /Kids walk).
        /Resources, /MediaBox and /Rotate are inheritable (ISO
        32000-1 Table 30): a page without its own picks up the
        nearest ancestor's, materialized into the returned dict so
        font/geometry lookup needs no tree walk.
        Memoized — per-page feature accessors (annotations) re-enter
        this per row."""
        cached = getattr(self, "_pages_cache", None)
        if cached is not None:
            return cached
        root = self.resolve(self._catalog().get("/Pages"))
        out: list[dict] = []

        def walk(node: Any, depth: int, inherited: dict) -> None:
            node = self.resolve(node)
            if not isinstance(node, dict) or depth > 64:
                return
            attrs = {
                k: node.get(k, inherited.get(k))
                for k in self._INHERITABLE
            }
            if node.get("/Type") == "/Page":
                missing = {
                    k: v
                    for k, v in attrs.items()
                    if k not in node and v is not None
                }
                if missing:
                    node = {**node, **missing}
                out.append(node)
                return
            for kid in self.resolve(node.get("/Kids")) or []:
                walk(kid, depth + 1, attrs)

        walk(root, 0, {})
        if not out:
            raise ValueError("page tree contains no /Page objects")
        self._pages_cache = out
        return out

    def page_fonts(self, page: dict) -> dict[str, tuple[dict[int, str], int]]:
        """Per-font decoder maps for a page ({font name → (code →
        unicode map, code byte length)}): /ToUnicode CMaps first
        (authoritative, any code width); for Type0/CIDFontType2 fonts
        WITHOUT one, the embedded TrueType program's own cmap
        (/FontFile2 via sources/sfnt — gid→unicode inverted through
        /CIDToGIDMap, the round-5 close of the what's-missing item);
        else a simple-font /Encoding map (base encoding +
        /Differences glyph names, 1-byte codes); for simple fonts
        with NEITHER, the embedded CFF program's own custom encoding
        (/FontFile3 Type1C via sources/cff). Fonts with none are
        absent (BOM/Latin-1 fallback); CID-keyed CFF stays on that
        documented fallback (its charset maps to CIDs, not names)."""
        res = self.resolve(page.get("/Resources"))
        fonts = self.resolve(res.get("/Font")) if isinstance(res, dict) else None
        out: dict[str, tuple[dict[int, str], int]] = {}
        if not isinstance(fonts, dict):
            return out
        for name, ref in fonts.items():
            f = self.resolve(ref)
            if not isinstance(f, dict):
                continue
            m = self._finished_font_map(f)
            if m is not None:
                out[name] = m
        return out

    def _finished_font_map(self, f: dict):
        """Finished (translate-ready) decode map for one font OBJECT,
        cached per document: fonts are shared across pages, so the
        map is built once per font, not once per page (see
        ``_font_map_cache``). Returns None when the font adds
        nothing over the Latin-1 fallback."""
        key = id(f)
        hit = self._font_map_cache.get(key)
        if hit is not None:
            return hit[0]
        m = self._font_decode_map(f)
        if m is not None:
            if m[0] == "vert":  # vertical wrapper: finish the inner map
                m = ("vert", self._finish_font_map(*m[1]))
            else:
                m = self._finish_font_map(*m)
        self._font_map_cache[key] = (m, f)
        return m

    @staticmethod
    def _finish_font_map(mapping, code_len: int) -> tuple:
        """1-byte maps decode at C speed (see :func:`_decode_byte_map`)
        — a per-char Python loop would tax EVERY show op: through a
        256-char charmap table when every code decodes to exactly one
        character, else through a ``str.maketrans`` table."""
        if code_len == 1:
            chars = [mapping.get(c, chr(c)) for c in range(256)]
            # U+FFFE marks an undefined byte to charmap_decode
            if all(type(ch) is str and len(ch) == 1 and ch != "\ufffe"
                   for ch in chars):
                return (mapping, 1, "".join(chars))
            return (mapping, 1, str.maketrans(
                {chr(c): v for c, v in mapping.items()}
            ))
        return (mapping, code_len)

    def _font_decode_map(self, f: dict) -> tuple | None:
        """The decode map for ONE font dict (the per-name body of
        :meth:`page_fonts`, shared with ExtGState /Font): (mapping,
        code byte length) or the ("utf16", 2) sentinel; None when the
        font adds nothing over the Latin-1 fallback. A Type0 font in
        VERTICAL writing mode (/Identity-V or a predefined *-V CMap,
        WMode 1 — ISO 32000-1 §9.7.5.2) wraps its map as ("vert",
        inner): CIDs decode exactly as the -H twin, but text
        assembly advances DOWNWARD (see :func:`_text_runs`)."""
        if self.resolve(f.get("/Subtype")) == "/Type0":
            enc_name = self.resolve(f.get("/Encoding"))
            vertical = isinstance(enc_name, str) \
                and enc_name.endswith("-V")
            m = self._type0_decode_map(f, enc_name)
            if m is not None and vertical:
                return ("vert", m)
            return m
        tu = self.resolve(f.get("/ToUnicode"))
        if isinstance(tu, StreamObj):
            try:
                return parse_tounicode_cmap(self.stream_bytes(tu))
            except (ValueError, IndexError, zlib.error):
                pass
        enc = f.get("/Encoding")
        if enc is not None and self.resolve(enc) != "/Identity-H":
            emap = encoding_map(enc, self.resolve)
            # pure-Latin-1 maps add nothing over the fallback
            if any(emap.get(b) != chr(b) for b in range(256)):
                return (emap, 1)
        # subset Type1C with a CUSTOM built-in encoding and no
        # PDF-side map: the CFF's own Encoding+charset name the
        # glyphs (sources/cff), AGL names them to unicode
        cff_map = self._fontfile3_builtin_map(f)
        if cff_map:
            return (cff_map, 1)
        return None

    def _type0_decode_map(self, f: dict, enc_name) -> tuple | None:
        """Decode map for a Type0 font, H and V alike (the caller
        adds the vertical wrapper): /ToUnicode first (authoritative),
        then the embedded font program, then the predefined unicode
        CMaps (/UniJIS-UCS2-H, /UniGB-UTF16-V etc., ISO 32000-1
        §9.7.5.2 table 118) whose code bytes ARE the text — UCS-2
        directly, UTF-16 including surrogate PAIRS for
        supplementary-plane CJK/emoji."""
        tu = self.resolve(f.get("/ToUnicode"))
        if isinstance(tu, StreamObj):
            try:
                return parse_tounicode_cmap(self.stream_bytes(tu))
            except (ValueError, IndexError, zlib.error):
                pass
        cid_map = self._type0_fontfile_map(f)
        if cid_map:
            return (cid_map, 2)
        if isinstance(enc_name, str) and re.fullmatch(
            r"/Uni[A-Za-z0-9]+-(UCS2|UTF16)-[HV]", enc_name
        ):
            return ("utf16", 2)
        return None

    def _fontfile3_builtin_map(self, f: dict) -> dict[int, str] | None:
        """code → unicode for a simple font from its embedded font
        program's own custom encoding: CFF (/FontFile3, Type1C —
        Encoding + charset + standard strings via sources/cff) or
        PostScript Type1 (/FontFile — cleartext/eexec ``dup N /name
        put`` array via sources/type1); glyph names map to unicode
        through the AGL subset. Returns None when the font is
        CID-keyed, uses a predefined/standard encoding, adds nothing
        over the Latin-1 fallback, or is malformed — never guesses."""
        try:
            fd = self.resolve(f.get("/FontDescriptor"))
            if not isinstance(fd, dict):
                return None
            names = None
            ff3 = self.resolve(fd.get("/FontFile3"))
            if isinstance(ff3, StreamObj):
                from pdf2dataset_spark.sources import cff

                names = cff.code_to_glyph_names(self.stream_bytes(ff3))
            else:
                ff1 = self.resolve(fd.get("/FontFile"))
                if not isinstance(ff1, StreamObj):
                    return None
                from pdf2dataset_spark.sources import type1

                names = type1.code_to_glyph_names(self.stream_bytes(ff1))
        except (ValueError, IndexError, zlib.error, struct.error):
            return None
        out = {}
        for code, gname in names.items():
            u = _glyph_to_unicode(gname)
            if u is not None:
                out[code] = u
        if not out or all(out.get(b) == chr(b) for b in out):
            return None  # nothing beyond the Latin-1 fallback
        return out

    def _type0_fontfile_map(self, f: dict) -> dict[int, str] | None:
        """CID → unicode for a Type0 font from its EMBEDDED font
        program. TrueType (/FontFile2): the content stream's 2-byte
        CIDs map to glyph ids via /CIDToGIDMap (/Identity default, or
        the 2-bytes-per-CID stream form), and the font's own cmap maps
        glyphs back to unicode (sources/sfnt). CFF (/FontFile3,
        CIDFontType0): OpenType-wrapped programs compose the sfnt cmap
        (unicode→gid) with the CID-keyed CFF charset (gid→cid,
        sources/cff cid_font_info); a bare NAME-keyed CFF in the
        CIDFont slot uses CID==GID (ISO 32000-1 §9.7.4.2) and the
        charset's glyph names through the AGL. A bare CID-keyed CFF
        with no cmap carries no in-font unicode — documented fallback.
        Returns None when anything needed is absent or malformed —
        decoding then falls back honestly rather than guessing."""
        try:
            desc = self.resolve(f.get("/DescendantFonts"))
            if isinstance(desc, list) and desc:
                desc = self.resolve(desc[0])
            if not isinstance(desc, dict):
                return None
            fd = self.resolve(desc.get("/FontDescriptor"))
            if not isinstance(fd, dict):
                return None
            ff2 = self.resolve(fd.get("/FontFile2"))
            if not isinstance(ff2, StreamObj):
                ff3 = self.resolve(fd.get("/FontFile3"))
                if isinstance(ff3, StreamObj):
                    return self._cid_cff_map(self.stream_bytes(ff3))
                return None
            from pdf2dataset_spark.sources import sfnt

            g2u = sfnt.gid_to_unicode(self.stream_bytes(ff2))
        except (ValueError, IndexError, zlib.error, struct.error):
            return None
        if not g2u:
            return None
        c2g = self.resolve(desc.get("/CIDToGIDMap", "/Identity"))
        if isinstance(c2g, StreamObj):
            try:
                raw = self.stream_bytes(c2g)
            except (ValueError, IndexError, zlib.error):
                return None
            out = {}
            for cid in range(len(raw) // 2):
                gid = (raw[2 * cid] << 8) | raw[2 * cid + 1]
                ch = g2u.get(gid)
                if ch is not None:
                    out[cid] = ch
            return out or None
        if c2g in (None, "/Identity"):
            return dict(g2u)  # CID == GID
        return None

    @staticmethod
    def _cid_cff_map(data: bytes) -> dict[int, str] | None:
        """CID → unicode from a /FontFile3 program (round-8 close of
        what's-missing #3 — CID-keyed CFF text recovery). Three forms:

        - OpenType-wrapped ('OTTO'/TrueType tags) CID-keyed CFF: the
          sfnt ``cmap`` gives unicode→gid and the inner ``CFF ``
          table's charset gives gid→cid — composing them recovers
          cid→unicode (lowest codepoint wins on shared glyphs).
        - OpenType-wrapped name-keyed CFF: CID == GID, so the
          inverted cmap is the map directly.
        - Bare NAME-keyed CFF used as a CIDFont: CID == GID (ISO
          32000-1 §9.7.4.2) and the charset names glyphs → AGL.

        A bare CID-keyed CFF has no unicode source in the font —
        returns None (documented honest fallback)."""
        from pdf2dataset_spark.sources import cff, sfnt

        if data[:4] in (b"OTTO", b"\x00\x01\x00\x00", b"true", b"ttcf"):
            inner = sfnt.table(data, b"CFF ")
            info = cff.cid_font_info(inner) if inner else None
            if info is None:
                return dict(sfnt.gid_to_unicode(data)) or None
            g2c = info["gid_to_cid"]
            out: dict[int, str] = {}
            for u, gid in sorted(sfnt.unicode_to_gid(data).items()):
                if 0 <= gid < len(g2c):
                    out.setdefault(g2c[gid], chr(u))
            return out or None
        if cff.cid_font_info(data) is not None:
            return None  # bare CID-keyed: no in-font unicode source
        names = cff.gid_to_name(data)
        if not names:
            return None
        out = {}
        for gid, gname in names.items():
            u = _glyph_to_unicode(gname)
            if u is not None:
                out[gid] = u
        return out or None

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("/Contents"))
        if contents is None:
            return b""
        parts = contents if isinstance(contents, list) else [contents]
        chunks: list[bytes] = []
        for part in parts:
            part = self.resolve(part)
            if isinstance(part, StreamObj):
                chunks.append(self.stream_bytes(part))
        return b"\n".join(chunks)

    def page_forms(self, page: dict, _depth: int = 0,
                   _seen: frozenset = frozenset()) -> dict:
        """/Form XObjects reachable from a page's /Resources (ISO
        32000-1 §8.10), for TEXT extraction through ``Do``:
        ``{name: (content, fonts, matrix, nested_forms)}``. ``fonts``
        come from the form's OWN /Resources when present (merged over
        the caller's at execution time); ``matrix`` is /Matrix
        (identity default); ``nested_forms`` recurses into the form's
        own /XObject dict (depth-capped, cycle-guarded by object
        identity so self-referencing forms cannot hang the walk)."""
        if _depth > 8:
            return {}
        res = self.resolve(page.get("/Resources"))
        xobjs = self.resolve(res.get("/XObject")) if isinstance(res, dict) \
            else None
        out: dict = {}
        if not isinstance(xobjs, dict):
            return out
        for name, ref in xobjs.items():
            obj = self.resolve(ref)
            if not isinstance(obj, StreamObj):
                continue
            sd = obj.sdict
            if self.resolve(sd.get("/Subtype")) != "/Form":
                continue
            if id(obj) in _seen:
                continue  # cycle: a form (indirectly) invoking itself
            if "/OC" in sd and self._oc_value_hidden(sd.get("/OC")):
                continue  # optional-content form hidden by default
            try:
                content = self.stream_bytes(obj)
            except (ValueError, KeyError):
                continue
            mat = self.resolve(sd.get("/Matrix"))
            try:
                matrix = tuple(float(self.resolve(v)) for v in mat)[:6] \
                    if isinstance(mat, list) and len(mat) >= 6 else _ID6
            except (TypeError, ValueError):
                matrix = _ID6
            pseudo = {"/Resources": sd.get("/Resources")}
            fonts = self.page_fonts(pseudo) \
                if self.resolve(sd.get("/Resources")) else {}
            nested = self.page_forms(
                pseudo, _depth + 1, _seen | {id(obj)}
            ) if self.resolve(sd.get("/Resources")) else {}
            out[name] = (content, fonts, matrix, nested)
        return out

    def page_ext_gstates(self, page: dict) -> dict:
        """Resolved /ExtGState entries of a page's /Resources (ISO
        32000-1 8.4.5), restricted to the graphics parameters the
        renderer honors through the ``gs`` operator: ``LW`` (line
        width), ``D`` (dash pattern, ``None`` = explicit solid
        reset), ``ca``/``CA`` (constant fill/stroke alpha, the
        watermark idiom), ``Font`` (round-8: a ``(decode map,
        size)`` pair resolved from the /Font entry's FONT OBJECT, so
        the TEXT interpreters switch fonts on ``gs`` per ISO 32000-1
        Table 58), and ``BM`` (round-9: the SEPARABLE blend modes of
        ISO 32000-1 §11.3.5 — Multiply, Screen, Overlay, Darken,
        Lighten, ColorDodge, ColorBurn, HardLight, SoftLight,
        Difference, Exclusion — applied per-pixel on the gray
        composite by raster.compose_page; /Normal and /Compatible
        reset to plain over-compositing; an ARRAY takes its first
        supported member per the pre-ISO convention). Non-separable
        blend modes (Hue/Saturation/Color/Luminosity — identity for
        gray-on-gray backdrops anyway) map to Normal. ExtGState
        /SMask GROUPS composite since round-9: /Luminosity masks by
        the rasterized group's gray, /Alpha by its painted
        footprint (the group alpha this compositor's opaque-paint
        model implies), /BC supplying the backdrop value and /None
        resetting; image /SMask per-pixel alpha rides the image
        paint path (codecs.PdfCodec._composite_pixels). Text
        rendering stays opaque."""
        res = self.resolve(page.get("/Resources"))
        gsd = self.resolve(res.get("/ExtGState")) \
            if isinstance(res, dict) else None
        out: dict = {}
        if not isinstance(gsd, dict):
            return out
        for name, ref in gsd.items():
            g = self.resolve(ref)
            if not isinstance(g, dict):
                continue
            entry: dict = {}
            lw = self.resolve(g.get("/LW"))
            if lw is not None:
                try:
                    entry["LW"] = max(0.0, float(lw))
                except (TypeError, ValueError):
                    pass
            for key, out_key in (("/ca", "ca"), ("/CA", "CA")):
                av = self.resolve(g.get(key))
                if av is not None:
                    try:
                        entry[out_key] = min(1.0, max(0.0, float(av)))
                    except (TypeError, ValueError):
                        pass
            sm = self.resolve(g.get("/SMask"))
            if sm == "/None":
                entry["SMask"] = None  # explicit reset
            elif isinstance(sm, dict):
                sub = self.resolve(sm.get("/S"))
                grp = self.resolve(sm.get("/G"))
                if sub in ("/Luminosity", "/Alpha") \
                        and isinstance(grp, StreamObj):
                    bc = self.resolve(sm.get("/BC"))
                    try:
                        bc_g = _luma([
                            float(self.resolve(v)) for v in bc
                        ]) if isinstance(bc, list) and bc else 0
                    except (TypeError, ValueError):
                        bc_g = 0
                    # /Alpha (round-9): under this compositor's
                    # opaque-paint model the group's alpha IS its
                    # painted footprint — mask = 255 where painted,
                    # /BC elsewhere (the luminosity machinery with
                    # the luminosity read replaced by the footprint)
                    entry["SMask"] = (grp, bc_g,
                                      sub.lstrip("/").lower())
            bm = self.resolve(g.get("/BM"))
            if isinstance(bm, list):
                # pre-ISO array form: first supported member wins
                bm = next((self.resolve(v) for v in bm
                           if isinstance(self.resolve(v), str)), None)
            if isinstance(bm, str):
                mode = bm.lstrip("/")
                if mode in _SEPARABLE_BLEND_MODES:
                    entry["BM"] = mode
                else:
                    # Normal/Compatible and the non-separable modes
                    # (identity on gray backdrops): explicit reset
                    entry["BM"] = None
            fnt = self.resolve(g.get("/Font"))
            if isinstance(fnt, list) and len(fnt) >= 2:
                # /Font [fontRef size] (ISO 32000-1 Table 58,
                # round-8): the decode map resolves from the FONT
                # OBJECT itself (no resource name involved) so the
                # text interpreters can switch on `gs`
                fd = self.resolve(fnt[0])
                try:
                    size = float(self.resolve(fnt[1]))
                except (TypeError, ValueError):
                    size = 12.0
                fmap = None
                if isinstance(fd, dict):
                    try:
                        fmap = self._finished_font_map(fd)
                    except (ValueError, IndexError, zlib.error,
                            struct.error):
                        fmap = None
                entry["Font"] = (fmap, size)
            dsh = self.resolve(g.get("/D"))
            if isinstance(dsh, list) and len(dsh) >= 2:
                arr = self.resolve(dsh[0])
                if isinstance(arr, list):
                    try:
                        vals = [float(self.resolve(v)) for v in arr]
                        ph = max(0.0, float(self.resolve(dsh[1])))
                        if vals and all(v >= 0 for v in vals) \
                                and sum(vals) > 0:
                            entry["D"] = (vals, ph)
                        else:
                            entry["D"] = None  # [] -> solid reset
                    except (TypeError, ValueError):
                        pass
            if entry:
                out[name] = entry
        return out

    def page_type3_fonts(self, page: dict) -> dict:
        """/Type3 fonts on the page (ISO 32000-1 §9.6.5), for
        COMPOSITE glyph painting (round-8 ask #3): ``{font name:
        {"procs": {code: CharProc content bytes}, "matrix":
        /FontMatrix 6-tuple, "widths": {code: glyph-space wx}}}``.
        Codes come from /Encoding /Differences (the only way Type3
        glyphs are addressable); fonts without /CharProcs or
        /Differences are skipped (nothing paintable). The CharProc's
        ``d0``/``d1`` width operators are ignored by the geometry
        interpreter; the d1-vs-d0 color distinction is simplified to
        the CharProc's own color state (black default) — a documented
        decline, not a guess at the caller's fill color."""
        res = self.resolve(page.get("/Resources"))
        fonts = self.resolve(res.get("/Font")) if isinstance(res, dict) \
            else None
        out: dict = {}
        if not isinstance(fonts, dict):
            return out
        for name, ref in fonts.items():
            f = self.resolve(ref)
            if not isinstance(f, dict) \
                    or self.resolve(f.get("/Subtype")) != "/Type3":
                continue
            procs_d = self.resolve(f.get("/CharProcs"))
            enc = self.resolve(f.get("/Encoding"))
            diffs = self.resolve(enc.get("/Differences")) \
                if isinstance(enc, dict) else None
            if not isinstance(procs_d, dict) or not isinstance(diffs, list):
                continue
            code_to_name: dict[int, str] = {}
            code = 0
            for item in diffs:
                item = self.resolve(item)
                if isinstance(item, (int, float)):
                    code = int(item)
                elif isinstance(item, str):
                    code_to_name[code] = item
                    code += 1
            procs: dict[int, bytes] = {}
            for code, gname in code_to_name.items():
                st = self.resolve(procs_d.get(gname))
                if isinstance(st, StreamObj):
                    try:
                        procs[code] = self.stream_bytes(st)
                    except (ValueError, IndexError, zlib.error):
                        continue
            mat = self.resolve(f.get("/FontMatrix"))
            try:
                matrix = tuple(float(self.resolve(v)) for v in mat)[:6] \
                    if isinstance(mat, list) and len(mat) >= 6 \
                    else (0.001, 0.0, 0.0, 0.001, 0.0, 0.0)
            except (TypeError, ValueError):
                matrix = (0.001, 0.0, 0.0, 0.001, 0.0, 0.0)
            widths: dict[int, float] = {}
            fc = self.resolve(f.get("/FirstChar"))
            ws = self.resolve(f.get("/Widths"))
            if isinstance(ws, list) and isinstance(fc, (int, float)):
                for i, w in enumerate(ws):
                    try:
                        widths[int(fc) + i] = float(self.resolve(w))
                    except (TypeError, ValueError):
                        continue
            if procs:
                out[name] = {
                    "procs": procs, "matrix": matrix, "widths": widths,
                }
        return out

    def page_images(self, page: dict, decode_pixels: bool = False) -> list[dict]:
        """Embedded image XObjects of a page (ISO 32000-1 §8.9.5), in
        /XObject name order. Each entry carries the declared metadata
        (name, width, height, colorspace, bits) plus:

        - ``format``: ``"jpeg"`` for /DCTDecode (``data`` is the
          complete JFIF file — any leading filters already undone),
          ``"raw"`` for fully-decodable chains (``data`` is sample
          bytes), ``"ccitt"`` for /CCITTFaxDecode (all /K regimes
          decode — G4/T.6, G3 1D, G3 mixed 2D — via
          :mod:`sources.ccitt`; the entry then carries
          ``ccitt_params`` so consumers can decode), ``"jbig2"``
          for /JBIG2Decode (via :mod:`sources.jbig2`, /JBIG2Globals
          honored and carried as ``jbig2_globals``), or ``"jpx"``
          for /JPXDecode (via :mod:`sources.jpx`). Each filter's
          format, decoder and undecodable-payload exceptions are
          one row of :data:`_IMAGE_DECODERS`.
        - ``decodable``: True when ``data`` can be turned into pixels
          with zero native deps — raw samples always; JPEG when
          :func:`sources.jpeg.decode_jpeg` accepts it (baseline /
          extended sequential AND progressive, gray or YCbCr up to
          2x2 sampling with restart intervals — virtually every
          embedded photo); CCITT, JBIG2 and JPX when their decoders
          accept the payload. ``decodable`` is found by decoding, so
          the JPEG / CCITT / JBIG2 / JPX decoders run for every entry
          whether or not ``decode_pixels`` is set.
        - ``pixels``: with ``decode_pixels=True`` and any decodable
          entry, the decoded samples (gray8, or interleaved
          components for color; a raw entry's are its ``data``). Kept
          off by default — a page of photos would multiply the row's
          Arrow footprint; ``codecs.PdfCodec`` keeps them for one
          page at a time so its image features share one decode.
        """
        res = self.resolve(page.get("/Resources"))
        xobjs = (
            self.resolve(res.get("/XObject")) if isinstance(res, dict) else None
        )
        out: list[dict] = []
        sources: list[tuple[str, dict, Any]] = []  # (name, sdict, raw|obj)
        if isinstance(xobjs, dict):
            for name in sorted(xobjs):
                obj = self.resolve(xobjs[name])
                if not isinstance(obj, StreamObj):
                    continue
                if self.resolve(obj.sdict.get("/Subtype")) != "/Image":
                    continue
                sources.append((name, obj.sdict, obj))
        # inline BI..ID..EI images ride the content stream itself
        try:
            content = self.page_content(page)
        except (ValueError, zlib.error, IndexError):
            content = b""
        for i, inl in enumerate(inline_images(content, self.resolve)):
            sources.append((f"inline{i}", inl["params"], inl["data"]))
        for name, sdict, src in sources:
            entry: dict[str, Any] = {
                "name": name,
                "width": int(self.resolve(sdict.get("/Width", 0)) or 0),
                "height": int(self.resolve(sdict.get("/Height", 0)) or 0),
                "colorspace": str(
                    self.resolve(sdict.get("/ColorSpace", "")) or ""
                ),
                "bits": int(
                    self.resolve(sdict.get("/BitsPerComponent", 0)) or 0
                ),
            }
            # structured ARRAY-colorspace info (round-9, ISO 32000-1
            # §8.6.5-8.6.6): /ICCBased surfaces its /N component
            # count (sample interpretation = the N-component device
            # space, the spec's no-CMM fallback), /Separation its
            # tint-transform function + alternate space so consumers
            # can map tint samples through it (codecs._entry_gray)
            csv = self.resolve(sdict.get("/ColorSpace"))
            if isinstance(csv, list) and csv:
                fam = self.resolve(csv[0])
                if fam == "/ICCBased" and len(csv) >= 2:
                    icc = self.resolve(csv[1])
                    if isinstance(icc, StreamObj):
                        try:
                            entry["cs_kind"] = "icc"
                            entry["cs_ncomp"] = int(
                                self.resolve(icc.sdict.get("/N", 0))
                            )
                        except (TypeError, ValueError):
                            entry.pop("cs_ncomp", None)
                elif fam == "/Separation" and len(csv) >= 4:
                    alt = self.resolve(csv[2])
                    entry["cs_kind"] = "separation"
                    entry["cs_ncomp"] = 1
                    entry["cs_sep_alt"] = alt \
                        if isinstance(alt, str) else None
                    entry["cs_sep_fn"] = csv[3]
                elif fam == "/Indexed" and len(csv) >= 4:
                    # [/Indexed base hival lookup] (§8.6.6.3):
                    # samples are PALETTE INDICES; carry the lookup
                    # table + base component count so consumers
                    # (codecs._entry_gray) map indices to colors
                    # instead of reading them as gray values
                    base = self.resolve(csv[1])
                    base_n = None
                    if isinstance(base, str):
                        base_n = _CS_COMPONENTS.get(base)
                    elif isinstance(base, list) and base:
                        bfam = self.resolve(base[0])
                        if bfam == "/ICCBased" and len(base) >= 2:
                            icc = self.resolve(base[1])
                            if isinstance(icc, StreamObj):
                                try:
                                    base_n = int(self.resolve(
                                        icc.sdict.get("/N", 0)
                                    )) or None
                                except (TypeError, ValueError):
                                    base_n = None
                    lookup = self.resolve(csv[3])
                    if isinstance(lookup, StreamObj):
                        try:
                            lookup = self.stream_bytes(lookup)
                        except (ValueError, zlib.error, IndexError):
                            lookup = None
                    try:
                        hival = int(self.resolve(csv[2]))
                    except (TypeError, ValueError):
                        hival = -1
                    if (isinstance(lookup, bytes) and base_n
                            and 0 <= hival <= 255):
                        entry["cs_kind"] = "indexed"
                        entry["cs_ncomp"] = 1
                        entry["cs_base_ncomp"] = base_n
                        entry["cs_hival"] = hival
                        entry["cs_palette"] = lookup
            try:
                if isinstance(src, StreamObj):
                    data, stopped = self._decode_filters(
                        src, stop_at_image=True
                    )
                else:
                    data, stopped = _run_filter_chain(
                        src,
                        sdict.get("/Filter"),
                        sdict.get("/DecodeParms"),
                        self.resolve,
                        True,
                    )
            except (ValueError, zlib.error, IndexError, KeyError,
                    struct.error) as e:
                entry.update(
                    format="error", data=None, decodable=False, error=str(e)
                )
                out.append(entry)
                continue
            if stopped is None:
                entry["format"] = "raw"
                entry["data"] = data
                entry["decodable"] = True
                if decode_pixels:
                    entry["pixels"] = data
            else:
                fmt, adaptor, undecodable = _IMAGE_DECODERS[stopped]
                entry["format"] = fmt
                entry["data"] = data
                entry["decodable"] = False
                decode = adaptor(self, sdict, data, entry)
                try:
                    w, h, px, extra = decode()
                except undecodable:
                    pass  # honest False, compressed payload kept
                else:
                    entry["decodable"] = True
                    entry.update(extra)
                    entry["width"] = entry["width"] or w
                    entry["height"] = entry["height"] or h
                    if decode_pixels:
                        entry["pixels"] = px
            # /SMask soft-mask alpha (ISO 32000-1 §11.6.5.2, round-8
            # ask #9): surfaced ALONGSIDE the base payload as decoded
            # 8-bit alpha samples — consumers compose RGBA instead of
            # losing transparency
            sm = self.resolve(sdict.get("/SMask")) \
                if isinstance(sdict, dict) else None
            if isinstance(sm, StreamObj):
                entry["smask"] = self._smask_entry(sm)
            out.append(entry)
        return out

    def _smask_entry(self, sm: StreamObj) -> dict:
        """Decode a /SMask image stream into {width, height, bits,
        decodable, alpha} — ``alpha`` is the raw 8-bit /DeviceGray
        sample bytes when the chain fully decodes (Flate/raw) or the
        payload is a decodable JPEG; honest decodable=False (alpha
        None, compressed payload kept) otherwise."""
        sd = sm.sdict
        entry = {
            "width": int(self.resolve(sd.get("/Width", 0)) or 0),
            "height": int(self.resolve(sd.get("/Height", 0)) or 0),
            "bits": int(
                self.resolve(sd.get("/BitsPerComponent", 0)) or 0
            ),
            "decodable": False,
            "alpha": None,
        }
        try:
            data, stopped = self._decode_filters(sm, stop_at_image=True)
        except (ValueError, zlib.error, IndexError, KeyError,
                struct.error) as e:
            entry["error"] = str(e)
            return entry
        if stopped is None:
            entry["decodable"] = True
            entry["alpha"] = data
        elif stopped == "/DCTDecode":
            _, adaptor, undecodable = _IMAGE_DECODERS[stopped]
            try:
                w, h, px, _ = adaptor(self, sd, data, entry)()
            except undecodable:
                entry["data"] = data  # honest: compressed, kept
            else:
                entry["decodable"] = True
                entry["alpha"] = px
                entry["width"] = entry["width"] or w
                entry["height"] = entry["height"] or h
        else:
            entry["data"] = data
        return entry


# ---------------------------------------------------------------------
# simple-font /Encoding (base encoding + /Differences glyph names)
# ---------------------------------------------------------------------

#: Adobe Glyph List subset: the names real /Differences arrays use
#: (ASCII punctuation + common Latin-1/typographic glyphs). Names
#: of the uniXXXX / uXXXXXX form are decoded algorithmically.
_AGL: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "dagger": "†", "daggerdbl": "‡", "ellipsis": "…",
    "perthousand": "‰", "guilsinglleft": "‹",
    "guilsinglright": "›", "guillemotleft": "«",
    "guillemotright": "»", "fi": "ﬁ", "fl": "ﬂ",
    "florin": "ƒ", "fraction": "⁄", "trademark": "™",
    "Euro": "€", "cent": "¢", "sterling": "£",
    "yen": "¥", "currency": "¤", "section": "§",
    "paragraph": "¶", "copyright": "©",
    # TeX glyph names (poppler's GlyphList TeX extension): plain
    # TeX's \copyright \ooaligns a text 'c' inside CMSY's circle
    # glyph — the circle reads as © (round-10; the overlaid 'c' is
    # dropped by the _layout_lines overlay rule)
    "circlecopyrt": "©",
    "registered": "®", "degree": "°", "plusminus": "±",
    "multiply": "×", "divide": "÷", "mu": "µ",
    "exclamdown": "¡", "questiondown": "¿",
    "nbspace": " ", "middot": "·", "periodcentered": "·",
    "dotlessi": "ı", "OE": "Œ", "oe": "œ",
    "AE": "Æ", "ae": "æ", "Oslash": "Ø",
    "oslash": "ø", "germandbls": "ß", "Thorn": "Þ",
    "thorn": "þ", "Eth": "Ð", "eth": "ð",
    "Lslash": "Ł", "lslash": "ł", "Scaron": "Š",
    "scaron": "š", "Zcaron": "Ž", "zcaron": "ž",
    "Ydieresis": "Ÿ", "ydieresis": "ÿ",
    "circumflex": "ˆ", "tilde": "˜", "macron": "¯",
    "breve": "˘", "dotaccent": "˙", "ring": "˚",
    "cedilla": "¸", "hungarumlaut": "˝", "ogonek": "˛",
    "caron": "ˇ", "minus": "−", "brokenbar": "¦",
    "logicalnot": "¬", "onequarter": "¼",
    "onehalf": "½", "threequarters": "¾",
    "onesuperior": "¹", "twosuperior": "²",
    "threesuperior": "³", "ordfeminine": "ª",
    "ordmasculine": "º",
    # Greek (AGL names — Symbol-font and TeX Type3 /Differences;
    # NOTE AGL maps "mu" to U+00B5 MICRO SIGN, kept above)
    "Alpha": "Α", "Beta": "Β", "Gamma": "Γ", "Delta": "Δ",
    "Epsilon": "Ε", "Zeta": "Ζ", "Eta": "Η", "Theta": "Θ",
    "Iota": "Ι", "Kappa": "Κ", "Lambda": "Λ", "Mu": "Μ", "Nu": "Ν",
    "Xi": "Ξ", "Omicron": "Ο", "Pi": "Π", "Rho": "Ρ", "Sigma": "Σ",
    "Tau": "Τ", "Upsilon": "Υ", "Phi": "Φ", "Chi": "Χ", "Psi": "Ψ",
    "Omega": "Ω",
    "alpha": "α", "beta": "β", "gamma": "γ", "delta": "δ",
    "epsilon": "ε", "zeta": "ζ", "eta": "η", "theta": "θ",
    "iota": "ι", "kappa": "κ", "lambda": "λ", "nu": "ν", "xi": "ξ",
    "omicron": "ο", "pi": "π", "rho": "ρ", "sigma": "σ",
    "sigma1": "ς", "tau": "τ", "upsilon": "υ", "phi": "φ",
    "phi1": "ϕ", "chi": "χ", "psi": "ψ", "omega": "ω",
    "omega1": "ϖ", "theta1": "ϑ",
    # math / Symbol-font operators
    "infinity": "∞", "partialdiff": "∂", "summation": "∑",
    "product": "∏", "integral": "∫", "radical": "√",
    "approxequal": "≈", "notequal": "≠", "lessequal": "≤",
    "greaterequal": "≥", "arrowleft": "←", "arrowup": "↑",
    "arrowright": "→", "arrowdown": "↓", "arrowboth": "↔",
    "element": "∈", "notelement": "∉", "intersection": "∩",
    "union": "∪", "propersubset": "⊂", "propersuperset": "⊃",
    "reflexsubset": "⊆", "reflexsuperset": "⊇", "gradient": "∇",
    "perpendicular": "⊥", "therefore": "∴", "proportional": "∝",
    "emptyset": "∅", "angle": "∠", "lozenge": "◊",
    "asteriskmath": "∗", "minute": "′", "second": "″",
    "equivalence": "≡", "existential": "∃", "universal": "∀",
    "logicaland": "∧", "logicalor": "∨", "suchthat": "∋",
    "congruent": "≅", "dotmath": "⋅", "weierstrass": "℘",
    "aleph": "ℵ", "Ifraktur": "ℑ", "Rfraktur": "ℜ",
}
# accented Latin letters (Agrave..ydieresis) follow a regular
# name scheme; generate from Unicode names instead of listing 100+.
_ACCENTS = {
    "grave": "̀", "acute": "́", "circumflex": "̂",
    "tilde": "̃", "dieresis": "̈", "ring": "̊",
    "cedilla": "̧", "caron": "̌", "breve": "̆",
    "hungarumlaut": "̋", "macron": "̄", "ogonek": "̨",
    "dotaccent": "̇",
}


def _glyph_to_unicode(name: str) -> str | None:
    """Glyph name → unicode text (AGL subset + uniXXXX forms +
    base-letter-plus-accent composition, NFC-normalized)."""
    import unicodedata

    n = name.lstrip("/")
    if len(n) == 1:
        return n
    if n in _AGL:
        return _AGL[n]
    if n.startswith("uni") and len(n) >= 7:
        try:
            return "".join(
                chr(int(n[i : i + 4], 16)) for i in range(3, len(n) - 3, 4)
            )
        except ValueError:
            return None
    if n.startswith("u") and 5 <= len(n) <= 7:
        try:
            return chr(int(n[1:], 16))
        except ValueError:
            return None
    # Adieresis / eacute / ntilde ... : letter + combining accent
    if n[0].isalpha() and len(n) > 1:
        for acc, comb in _ACCENTS.items():
            if n[1:] == acc:
                return unicodedata.normalize("NFC", n[0] + comb)
    return None


_BASE_ENCODINGS = {
    "/WinAnsiEncoding": "cp1252",
    "/MacRomanEncoding": "mac_roman",
    "/StandardEncoding": "latin-1",
    "/PDFDocEncoding": "latin-1",
}


@functools.lru_cache(maxsize=None)
def _base_encoding_table(base: str) -> dict[int, str]:
    """256-entry byte → unicode table for one base codec name.

    Input-independent (a pure function of the stdlib codec), so it is
    computed once per process instead of once per font: the per-byte
    ``bytes.decode`` loop was the single hottest line of document
    open() before caching. Callers must copy before mutating."""
    mapping: dict[int, str] = {}
    for b in range(256):
        try:
            mapping[b] = bytes([b]).decode(base)
        except (UnicodeDecodeError, ValueError):
            pass  # undefined in the base encoding → chr() fallback
    return mapping


def encoding_map(enc: Any, resolve) -> dict[int, str]:
    """Byte-code → unicode map for a simple font's /Encoding entry
    (a base-encoding name, or a dict with /BaseEncoding and
    /Differences glyph-name remaps, ISO 32000-1 §9.6.6)."""
    base = "latin-1"
    diffs = None
    enc = resolve(enc)
    if isinstance(enc, str):
        base = _BASE_ENCODINGS.get(enc, "latin-1")
    elif isinstance(enc, dict):
        base = _BASE_ENCODINGS.get(
            resolve(enc.get("/BaseEncoding")), "latin-1"
        )
        diffs = resolve(enc.get("/Differences"))
    mapping = dict(_base_encoding_table(base))
    if isinstance(diffs, list):
        code = 0
        for item in diffs:
            item = resolve(item)
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, str):
                u = _glyph_to_unicode(item)
                if u is not None and 0 <= code <= 255:
                    mapping[code] = u
                code += 1
    return mapping


# ---------------------------------------------------------------------
# ToUnicode CMaps (CID/Type0 and simple fonts with /ToUnicode)
# ---------------------------------------------------------------------

_CMAP_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]+)>|(\[)|(\])")


def parse_tounicode_cmap(data: bytes) -> tuple[dict[int, str], int]:
    """Parse a /ToUnicode CMap stream (ISO 32000-1 §9.10.3) into a
    (code → unicode string) mapping plus the code unit byte length.
    Handles ``bfchar``, ``bfrange`` (both the incrementing
    ``<lo> <hi> <dst>`` and the array ``<lo> <hi> [<d>...]`` forms)
    and ``codespacerange`` for the code width. Destinations are
    UTF-16BE, possibly multi-unit (ligatures)."""
    mapping: dict[int, str] = {}
    code_len = 1

    def hx_bytes(tok: bytes) -> bytes:
        clean = bytes(c for c in tok if c not in _WS).decode("ascii")
        if len(clean) % 2:
            clean += "0"
        return bytes.fromhex(clean)

    for m in re.finditer(
        rb"begincodespacerange(.*?)endcodespacerange", data, re.S
    ):
        for hx in re.findall(rb"<([0-9A-Fa-f\s]+)>", m.group(1)):
            code_len = max(code_len, len(hx_bytes(hx)))

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        toks = re.findall(rb"<([0-9A-Fa-f\s]+)>", m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            sb = hx_bytes(src)
            code_len = max(code_len, len(sb))
            mapping[int.from_bytes(sb, "big")] = hx_bytes(dst).decode(
                "utf-16-be", errors="replace"
            )

    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        toks: list[Any] = []
        for mt in _CMAP_HEX_RE.finditer(m.group(1)):
            if mt.group(1) is not None:
                toks.append(hx_bytes(mt.group(1)))
            else:
                toks.append(mt.group(0).decode())
        i = 0
        while i < len(toks):
            if not (
                i + 2 < len(toks)
                and isinstance(toks[i], bytes)
                and isinstance(toks[i + 1], bytes)
            ):
                i += 1
                continue
            lo = int.from_bytes(toks[i], "big")
            hi = int.from_bytes(toks[i + 1], "big")
            code_len = max(code_len, len(toks[i]))
            nxt = toks[i + 2]
            if nxt == "[":  # explicit per-code destinations
                j = i + 3
                code = lo
                while j < len(toks) and toks[j] != "]":
                    if isinstance(toks[j], bytes) and code <= hi:
                        mapping[code] = toks[j].decode(
                            "utf-16-be", errors="replace"
                        )
                        code += 1
                    j += 1
                i = j + 1
            else:  # incrementing destination
                base = int.from_bytes(nxt, "big")
                width = len(nxt)
                for off in range(hi - lo + 1):
                    mapping[lo + off] = (base + off).to_bytes(
                        width, "big"
                    ).decode("utf-16-be", errors="replace")
                i += 3
    return mapping, code_len


def _decode_with_cmap(
    raw: bytes, mapping: dict[int, str], code_len: int
) -> str:
    out: list[str] = []
    for i in range(0, len(raw) - code_len + 1, code_len):
        code = int.from_bytes(raw[i : i + code_len], "big")
        ch = mapping.get(code)
        if ch is None:
            # unmapped code: single-byte codes fall back to Latin-1,
            # wider codes to the replacement character
            ch = chr(code) if code < 256 else "�"
        out.append(ch)
    return "".join(out)


# ---------------------------------------------------------------------
# content-stream text interpreter
# ---------------------------------------------------------------------

def _decode_text_string(raw: bytes) -> str:
    """UTF-16 strings carry a BOM (ISO 32000 §7.9.2.2); everything
    else decodes as Latin-1 ≈ PDFDoc/WinAnsi printable range."""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", errors="replace")
    if raw[:2] == b"\xff\xfe":
        return raw[2:].decode("utf-16-le", errors="replace")
    return raw.decode("latin-1")


_SHOW_LINE_OPS = frozenset((b"Td", b"TD", b"T*", b"Tm", b"ET"))

#: every operator the LAYOUT interpreter acts on — path/paint/color
#: ops (the other ~25% of a real content stream) skip the dispatch
#: chain on one set probe
_LAYOUT_OPS = frozenset((
    b"TJ", b"Tj", b"Td", b"Tf", b"Tm", b"cm", b"BT", b"ET", b"q",
    b"Q", b"TD", b"T*", b"TL", b"Tc", b"Tw", b"Tz", b"'", b'"',
    b"Tr", b"BDC", b"BMC", b"EMC", b"gs", b"Do",
))

#: every operator the STREAM-ORDER text interpreter acts on
_CTEXT_OPS = frozenset((
    b"Tj", b"TJ", b"'", b'"', b"Tf", b"gs", b"Do",
    b"BDC", b"BMC", b"EMC",
)) | _SHOW_LINE_OPS

#: optional whitespace + numeric token in ONE C-level match — the
#: TJ-array fast path (arrays of kern numbers dominate text-heavy
#: content streams)
_WS_NUM_RE = re.compile(rb"[\x00\t\n\x0c\r ]*([+-]?(?:\d+\.\d*|\.\d+|\d+))")

#: optional whitespace + one TJ-array element — kern number, simple
#: literal string (no escape/nesting), or the closing ``]`` — in ONE
#: C-level match
_WS_ELEM_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]*"
    rb"(?:([+-]?(?:\d+\.\d*|\.\d+|\d+))"
    rb"|\(([^\\()]*)\)"
    rb"|(\]))"
)

#: a WHOLE simple TJ array body — only kern numbers and simple
#: strings up to the closing ``]`` — validated in ONE C-level match;
#: elements then lex via ``_WS_ELEM_RE.findall`` (two C scans total
#: instead of one Python loop iteration per element). The element
#: loop is POSSESSIVE (``*+``, atomic elements): on a non-simple
#: array the match must fail in O(n), not backtrack into the 2^k
#: ways a digit run could split across loop iterations.
_TJ_ARR_FAST_RE = re.compile(
    rb"(?:(?>[\x00\t\n\x0c\r ]*"
    rb"(?:[+-]?(?:\d+\.\d*|\.\d+|\d+)|\([^\\()]*\))))*+"
    rb"[\x00\t\n\x0c\r ]*\]"
)


def _parse_content_value(data: bytes, pos: int) -> tuple[Any, int]:
    """One DIRECT object value from a content stream.

    Content streams shall not contain indirect references (ISO
    32000-1 §7.8.2), so unlike :func:`parse_value` this skips the
    ``N G R`` lookahead — which costs an extra whitespace skip plus a
    second number match for EVERY numeric token and dominated
    TJ-array lexing on real text-heavy documents."""
    m = _WS_NUM_RE.match(data, pos)
    if m:
        tok = m.group(1)
        return (float(tok) if 0x2E in tok else int(tok)), m.end()
    pos = _skip_ws(data, pos)
    c = data[pos]
    if c == 0x3C:  # '<' — dict or hex string
        if data[pos + 1 : pos + 2] == b"<":
            pos += 2
            d: dict = {}
            while True:
                pos = _skip_ws(data, pos)
                if data[pos : pos + 2] == b">>":
                    return d, pos + 2
                key, pos = _parse_name(data, pos)
                val, pos = _parse_content_value(data, pos)
                d[key] = val
        return _parse_hex_string(data, pos)
    if c == 0x28:
        return _parse_literal_string(data, pos)
    if c == 0x5B:  # '['
        pos += 1
        arr: list = []
        m = _TJ_ARR_FAST_RE.match(data, pos)
        if m is not None:
            # the whole array is numbers/simple strings: lex every
            # element with one findall over the validated span. A
            # number match always captures >= 1 byte, so an empty
            # first group means a string element (possibly b"") or
            # the closing bracket.
            end = m.end()
            append = arr.append
            for tok, s, br in _WS_ELEM_RE.findall(data, pos, end):
                if tok:
                    append(float(tok) if 0x2E in tok else int(tok))
                elif not br:
                    append(s)
            return arr, end
        elem_match = _WS_ELEM_RE.match
        append = arr.append
        while True:
            # TJ arrays are (string) kern (string) kern ... ]: lex
            # all three hot element kinds in ONE C-level match,
            # skipping the recursive call (and its duplicate
            # whitespace skip) per element
            m = elem_match(data, pos)
            if m is None:
                # comment / escaped or nested string / hex string /
                # anything else: the exact slow path
                pos = _skip_ws(data, pos)
                ch = data[pos]
                if ch == 0x5D:
                    return arr, pos + 1
                if ch == 0x28:
                    v, pos = _parse_literal_string(data, pos)
                else:
                    v, pos = _parse_content_value(data, pos)
                append(v)
                continue
            pos = m.end()
            gi = m.lastindex
            if gi == 1:  # kern number
                tok = m.group(1)
                append(float(tok) if 0x2E in tok else int(tok))
            elif gi == 2:  # simple (no escape, no nesting) string
                append(m.group(2))
            else:  # ']'
                return arr, pos
    if c == 0x2F:
        return _parse_name(data, pos)
    if data.startswith(b"true", pos):
        return True, pos + 4
    if data.startswith(b"false", pos):
        return False, pos + 5
    if data.startswith(b"null", pos):
        return None, pos + 4
    m = _NUM_RE.match(data, pos)
    if m:  # number behind a '%' comment: the fused fast path above
        tok = m.group()  # stops at the comment, _skip_ws consumed it
        return (float(tok) if 0x2E in tok else int(tok)), m.end()
    raise ValueError(
        f"cannot parse content value at byte {pos}: {data[pos:pos+20]!r}"
    )


#: fused whitespace/comment skip + one token, in ONE C-level match:
#: group 1 = number, group 2 = name body (after '/'), group 3 =
#: operator (name-body run whose first byte cannot start a number).
#: Strings, dicts, arrays and oddball tokens fall back to the
#: byte-dispatch path below.
_CTOK_RE = re.compile(
    # POSSESSIVE skip: comments must be consumed atomically. A
    # backtrackable skip re-lexed the tail of a comment as a phantom
    # operator token whenever the next real token started with a
    # delimiter this pattern has no alternative for ('(', '<', '[')
    # or the stream ended — clearing accumulated operands as a side
    # effect. With the possessive skip those cases fail the match and
    # take the byte-dispatch fallback below, which handles them
    # properly.
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*+"
    rb"(?:([+-]?(?:\d+\.\d*|\.\d+|\d+))"
    # group 2: the REST of a ws-separated number run ("0 0 1 50 700"
    # before Tm/cm/Td) — fused into the same C-level match, split out
    # by findall only when non-empty. Atomic+possessive so a failed
    # continuation can never re-split digits across iterations.
    rb"((?:(?>[\x00\t\n\x0c\r ]+[+-]?(?:\d+\.\d*|\.\d+|\d+)))*+)"
    rb"|/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|([^\x00\t\n\x0c\r ()<>\[\]{}/%0-9+.\-]"
    rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*))"
)

#: bare numeric tokens inside an already-validated number run
_NUM_FINDALL_RE = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)")


#: ONE total tokenizer for content streams: every byte of a clean
#: stream is consumed by exactly one alternative, so ``findall`` is a
#: contiguous tokenization (group 10 catches any byte no other
#: alternative starts, which flags the stream for the exact
#: match-loop lexer). An operand — a number run, a simple array or a
#: literal string — captures the operator right after it (group 6),
#: so ``x y Td``, ``(...) Tj``, ``[...] TJ`` and ``12 Tf`` each cost
#: one tuple. Ordered by corpus frequency after the first-char
#: quick-fail alternatives.
_CONTENT_TOKENS_RE = re.compile(
    # POSSESSIVE skip (a failed match would let findall resync INSIDE
    # a comment and invent phantom tokens), and only EOL-TERMINATED
    # comments are skippable: a comment running to EOF would strand
    # the skip at end-of-input with no token to anchor on, so its '%'
    # is left for the catch-all group instead — flagging the stream
    # for the exact match-loop lexer, which ends it cleanly. The
    # caller rstrips trailing PDF whitespace for the same reason.
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*(?=[\r\n]))*+"
    rb"(?:(?:([+-]?(?:\d+\.\d*|\.\d+|\d+))"  # 1 number
    # 2 the run's second number ("0 -14" before Td) and 3 the REST of
    #   the run ("0 0 1 50 700" before Tm), split by _NUM_FINDALL_RE;
    #   possessive and atomic so a run can never re-split digits
    #   across iterations
    rb"(?:[\x00\t\n\x0c\r ]*([+-]?(?:\d+\.\d*|\.\d+|\d+)))?+"
    rb"((?:(?>[\x00\t\n\x0c\r ]*[+-]?(?:\d+\.\d*|\.\d+|\d+)))*+)"
    # 4 a WHOLE simple array (numbers + escape-free strings) — the TJ
    #   shape — as one token; atomic+possessive so a non-simple array
    #   fails in O(n) and falls to the bare '[' delimiter below
    rb"|(\[(?:(?>[\x00\t\n\x0c\r ]*"
    rb"(?:[+-]?(?:\d+\.\d*|\.\d+|\d+)|\([^\\()]*\))))*+"
    rb"[\x00\t\n\x0c\r ]*\])"
    # 5 flat literal string (escapes allowed, no nested parens); a
    #   backslash is only ever consumed as an escape pair, so the body
    #   runs as possessive character-class loops between escapes
    #   instead of one alternation per byte
    rb"|(\([^\\()]*+(?:\\[\s\S][^\\()]*+)*+\)))"
    # 6 the operator right after the operand, whitespace between
    #   (a comment between them leaves it to group 9)
    rb"(?:[\x00\t\n\x0c\r ]*([^\x00\t\n\x0c\r ()<>\[\]{}/%0-9+.\-]"
    rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*))?"
    rb"|/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"  # 7 name body
    # 8 container delimiters and hex strings (hex digits + PDF ws
    #   only — anything else must take the exact path to reproduce
    #   its error behavior)
    rb"|(<<|>>|\[|\]|<[0-9A-Fa-f\x00\t\n\x0c\r ]*>)"
    # 9 operator / keyword
    rb"|([^\x00\t\n\x0c\r ()<>\[\]{}/%0-9+.\-]"
    rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|([\s\S]))"  # 10 anomaly byte
)


def _lex_content_fast(
    content: bytes, wanted: frozenset | None
) -> list | None:
    """Tokenize a clean content stream in two C passes (one findall,
    one branch-dispatch loop) into the ``[(operator, operands), ...]``
    list the generator yields. Returns ``None`` whenever ANYTHING
    falls outside the clean-token grammar — ``BI`` inline images,
    ``#``-escaped or empty names, nested-paren strings, stray bytes,
    malformed containers — so the exact match-loop lexer reproduces
    the historical behavior (including its exceptions) byte for
    byte."""
    ops: list = []
    stack: list = []
    cstack: list = []  # enclosing (container, kind) frames
    cur = stack
    ckind = -1  # -1 top level, 0 list, 1 dict item list
    num_findall = _NUM_FINDALL_RE.findall
    # trailing PDF whitespace would strand the skip at EOF with no
    # token to anchor on (see the pattern comment); stripping it is
    # behavior-neutral — the match loop ends cleanly on a whitespace
    # tail without yielding
    for num, num2, rest, arr, lit, op, name, delim, bare, _ in \
            _CONTENT_TOKENS_RE.findall(
                content.rstrip(b"\x00\t\n\x0c\r ")):
        if num:
            cur.append(float(num) if 0x2E in num else int(num))
            if num2:
                cur.append(float(num2) if 0x2E in num2 else int(num2))
                if rest:
                    for tok in num_findall(rest):
                        cur.append(float(tok) if 0x2E in tok else int(tok))
        elif lit:
            if 0x5C in lit:  # backslash: unescape on the span
                try:
                    v, end = _parse_literal_string(lit, 0)
                except ValueError:
                    return None
                if end != len(lit):
                    return None
                cur.append(v)
            else:
                cur.append(lit[1:-1])
        elif arr:
            sub: list = []
            sapp = sub.append
            for tok, s, br in _WS_ELEM_RE.findall(arr, 1):
                if tok:
                    sapp(float(tok) if 0x2E in tok else int(tok))
                elif not br:
                    sapp(s)
            cur.append(sub)
        elif name:
            if 0x23 in name:  # '#xx' escape: exact decode path
                return None
            cur.append("/" + name.decode("latin-1"))
            continue
        elif bare:
            op = bare
        elif delim:
            if delim == b"[":
                cstack.append((cur, ckind))
                cur = []
                ckind = 0
            elif delim == b"]":
                if ckind == 0:
                    closed = cur
                    cur, ckind = cstack.pop()
                    cur.append(closed)
                elif ckind == 1:
                    return None
                # stray ']' at top level: skipped, as the exact
                # lexer's stray-delimiter branch does
            elif delim == b"<<":
                cstack.append((cur, ckind))
                cur = []
                ckind = 1
            elif delim == b">>":
                if ckind == 1:
                    items = cur
                    cur, ckind = cstack.pop()
                    if len(items) % 2:
                        return None
                    d: dict = {}
                    for i in range(0, len(items), 2):
                        k = items[i]
                        if type(k) is not str:
                            return None
                        d[k] = items[i + 1]
                    cur.append(d)
                elif ckind == 0:
                    return None
                # stray '>>' at top level: skipped
            else:  # hex string
                hx = bytes(
                    c for c in delim[1:-1] if c not in _WS
                ).decode("ascii")
                if len(hx) % 2:
                    hx += "0"
                cur.append(bytes.fromhex(hx))
            continue
        else:  # anomaly byte (or empty name '/')
            return None
        if not op:
            continue
        if ckind >= 0:  # keyword VALUE inside a container
            if op == b"true":
                cur.append(True)
            elif op == b"false":
                cur.append(False)
            elif op == b"null":
                cur.append(None)
            else:
                return None
        elif op == b"BI":  # inline image: binary follows
            return None
        elif wanted is None or op in wanted:
            ops.append((op, stack))
            cur = stack = []
        else:
            stack.clear()
    if ckind >= 0:  # unterminated container
        return None
    return ops


def _iter_content_ops(content: bytes, wanted: frozenset | None = None):
    """Lex a content stream into an iterable of ``(operator,
    operands)`` pairs — the shared front end of :func:`content_text`
    (stream order) and :func:`content_text_layout` (reading order).
    Every stream, whatever its size, first tries
    :func:`_lex_content_fast`; anything unusual delegates to
    the exact match-loop lexer below, whose behavior (down to its
    exceptions on malformed input) is the contract.

    A yielded operand list is only valid until the next iteration:
    the match loop reuses one list and clears it after each yield.
    Copy it (``list(operands)``) to keep it."""
    ops = _lex_content_fast(content, wanted)
    if ops is None:
        return _iter_content_ops_matchloop(content, wanted)
    return ops


def _iter_content_ops_matchloop(
    content: bytes, wanted: frozenset | None = None
):
    """The exact (historical) lexer: one match per token. Inline
    images (``BI``..``EI``) are skipped without lexing their binary
    data. ``wanted`` filters the yields to that operator set
    (operands of skipped ops are still lexed and cleared, exactly as
    if the consumer had ignored the yield) — path/color ops never pay
    the generator round-trip."""
    pos, n = 0, len(content)
    stack: list[Any] = []
    append = stack.append
    match_tok = _CTOK_RE.match
    while pos < n:
        m = match_tok(content, pos)
        if m is not None:
            pos = m.end()
            # one C call for all four groups beats lastindex + a
            # second group() lookup on every token
            tok, rest, body, op = m.group(1, 2, 3, 4)
            if tok is not None:  # number (possibly a fused run)
                append(float(tok) if 0x2E in tok else int(tok))
                if rest:
                    for tok in _NUM_FINDALL_RE.findall(rest):
                        append(float(tok) if 0x2E in tok else int(tok))
                continue
            if op is None:  # name
                if 0x23 in body:  # '#xx' escape: exact decode
                    v, pos = _parse_name(content, m.start(3) - 1)
                    append(v)
                else:
                    append("/" + body.decode("latin-1"))
                continue
            if op == b"BI":
                # inline image: skip to EI to avoid lexing binary data
                e = content.find(b"EI", pos)
                pos = n if e == -1 else e + 2
                stack.clear()
                continue
            if wanted is None or op in wanted:
                yield op, stack
            stack.clear()
            continue
        pos = _skip_ws(content, pos)
        if pos >= n:
            break
        c = content[pos]
        if c == 0x28:
            s, pos = _parse_literal_string(content, pos)
            append(s)
        elif c == 0x3C and content[pos + 1 : pos + 2] != b"<":
            s, pos = _parse_hex_string(content, pos)
            append(s)
        elif c == 0x3C:  # inline dict (marked content / inline image)
            v, pos = _parse_content_value(content, pos)
            append(v)
        elif c == 0x5B:
            v, pos = _parse_content_value(content, pos)
            append(v)
        else:  # oddball token ('+'/'-'/'.' runs) or stray delimiter
            op = _NAME_BODY.match(content, pos).group()
            if not op:  # stray delimiter; skip it
                pos += 1
                continue
            pos += len(op)
            if wanted is None or op in wanted:
                yield op, stack
            stack.clear()


def _decode_byte_map(raw: bytes, table: str | dict) -> str:
    """Glyph codes of a 1-byte font map to text: ``table`` is a
    256-char charmap string (one character per code) or, when some
    code decodes to several characters or none, a ``str.maketrans``
    table over the Latin-1 characters of the codes."""
    if type(table) is str:
        return _charmap_decode(raw, "strict", table)[0]
    return raw.decode("latin-1").translate(table)


def _decode_shown(raw: bytes, cmap: tuple | None) -> str:
    """Decode a shown glyph string through the active font's map."""
    if cmap is None:
        return _decode_text_string(raw)
    if cmap[0] == "vert":  # vertical writing decodes like its -H twin
        cmap = cmap[1]
    if cmap[0] == "utf16":  # predefined Uni*-UCS2/UTF16-* CMaps:
        # the code bytes are the text (surrogate pairs combine)
        return raw.decode("utf-16-be", errors="replace")
    if len(cmap) == 3:  # 1-byte map with a decode table
        return _decode_byte_map(raw, cmap[2])
    return _decode_with_cmap(raw, cmap[0], cmap[1])


def content_text(
    content: bytes,
    fonts: dict[str, tuple] | None = None,
    forms: dict | None = None,
    ext_gstates: dict | None = None,
    props: dict | None = None,
) -> str:
    """Text shown by a content stream IN STREAM ORDER: ``Tj``/``TJ``/
    ``'``/``"`` emit glyph strings; ``Td/TD/T*/Tm/ET`` mark line
    breaks (emitted lazily, so there is no leading/trailing newline
    churn). ``fonts`` maps font resource names (``/F1``) to parsed
    /ToUnicode CMaps — ``Tf`` switches the active map, so CID/Type0
    glyph strings decode through their CMap while unmapped fonts keep
    the BOM/Latin-1 fallback. ``forms`` (see
    :meth:`PdfDocument.page_forms`) inlines /Form XObject text at its
    ``Do`` site in stream order. ``ext_gstates`` (see
    :meth:`PdfDocument.page_ext_gstates`) makes ``gs`` with an
    ExtGState /Font switch the active decode map (ISO 32000-1 Table
    58, round-8). ``props`` (see
    :meth:`PdfDocument.page_properties`) resolves NAMED ``BDC``
    property lists; /ActualText marked content (ISO 32000-1
    §14.9.4) replaces everything shown inside its BDC..EMC scope
    with the declared string (ligature/hyphenation/OCR-overlay
    fidelity, the pdftotext behavior) — the OUTERMOST scope wins
    when scopes nest, and an empty /ActualText deletes its content
    (the soft-hyphen idiom). Named property lookups resolve against
    the page-level map in nested /Form XObjects too (form-local
    /Properties dicts are not merged; inline BDC dicts — the common
    authoring form — always work). For reading order (two-column
    layouts, out-of-order text operators) use
    :func:`content_text_layout`."""
    out: list[str] = []
    shown = False  # a show op happened since the last break marker
    pending = False  # a break marker happened after a show op
    cur_cmap: tuple | None = None
    #: marked-content stack: (opened_active_actualtext, is_hidden_oc)
    mc_stack: list[tuple[bool, bool]] = []
    at_text: str | None = None  # active scope's replacement text
    oc_depth = 0  # nesting depth inside HIDDEN optional content

    def emit(s: str) -> None:
        nonlocal shown, pending
        if pending:
            out.append("\n")
            pending = False
        out.append(s)
        shown = True

    def show(raw: bytes) -> None:
        if at_text is not None or oc_depth > 0:
            return  # replaced at the scope's EMC / hidden layer
        emit(_decode_shown(raw, cur_cmap))

    def mark() -> None:
        nonlocal pending
        if shown and at_text is None:
            pending = True

    def finalize_scope() -> None:
        nonlocal at_text
        t, at_text = at_text, None
        if t and oc_depth == 0:
            emit(t)

    def exec_ops(ops_content, frame_fonts, frame_forms, depth):
        nonlocal cur_cmap, at_text, oc_depth
        for op, stack in _iter_content_ops(ops_content, _CTEXT_OPS):
            if op == b"Tj":
                if stack and isinstance(stack[-1], bytes):
                    show(stack[-1])
            elif op == b"TJ":
                if stack and isinstance(stack[-1], list):
                    buf = b"".join(
                        e for e in stack[-1] if isinstance(e, bytes)
                    )
                    show(buf)
            elif op in _SHOW_LINE_OPS:
                mark()
            elif op == b"BDC":
                tag = stack[-2] if len(stack) >= 2 else None
                pd = stack[-1] if stack else None
                if isinstance(pd, str) and props:
                    pd = props.get(pd)
                at = None
                if at_text is None and isinstance(pd, dict):
                    v = pd.get("/ActualText")
                    if isinstance(v, bytes):
                        at = _decode_text_string(v)
                is_oc = (tag == "/OC" and isinstance(pd, dict)
                         and bool(pd.get("__oc_hidden__")))
                mc_stack.append((at is not None, is_oc))
                if is_oc:
                    oc_depth += 1
                if at is not None:
                    at_text = at
            elif op == b"BMC":
                mc_stack.append((False, False))
            elif op == b"EMC":
                if mc_stack:
                    opened, is_oc = mc_stack.pop()
                    if is_oc:
                        oc_depth -= 1
                    if opened:
                        finalize_scope()
            elif op == b"'":
                mark()
                if stack and isinstance(stack[-1], bytes):
                    show(stack[-1])
            elif op == b'"':
                mark()
                if stack and isinstance(stack[-1], bytes):
                    show(stack[-1])
            elif op == b"Tf":
                if frame_fonts and len(stack) >= 2 \
                        and isinstance(stack[-2], str):
                    cur_cmap = frame_fonts.get(stack[-2])
            elif op == b"gs" and stack and isinstance(stack[-1], str) \
                    and ext_gstates:
                g = ext_gstates.get(stack[-1])
                if g and "Font" in g:
                    cur_cmap = g["Font"][0]
            elif op == b"Do" and stack and isinstance(stack[-1], str) \
                    and frame_forms and depth < 8:
                ent = frame_forms.get(stack[-1])
                if ent is not None:
                    fcontent, ffonts, _, fforms = ent
                    saved = cur_cmap
                    mc_len = len(mc_stack)
                    mark()
                    exec_ops(
                        fcontent,
                        {**(frame_fonts or {}), **(ffonts or {})},
                        # legacy files resolve a nested Do against the
                        # PAGE's /XObject dict when the form has no own
                        # /Resources (poppler's page-resource fallback):
                        # caller's forms under the form's own. depth<8
                        # still bounds any cycle this re-exposes.
                        {**(frame_forms or {}), **(fforms or {})},
                        depth + 1,
                    )
                    # marked content must nest within one stream
                    # (§14.6): a form's unclosed BDCs end at the form
                    # boundary, never leak into the caller's scope
                    while len(mc_stack) > mc_len:
                        opened, is_oc = mc_stack.pop()
                        if is_oc:
                            oc_depth -= 1
                        if opened:
                            finalize_scope()
                    mark()
                    cur_cmap = saved

    exec_ops(content, fonts, forms, 0)
    if at_text is not None:  # malformed stream: scope never closed
        finalize_scope()
    return "".join(out)


# ---------------------------------------------------------------------
# layout-aware (reading-order) text extraction
# ---------------------------------------------------------------------
# pdftotext parity for the common real-corpus divergences: two-column
# pages, content streams whose text operators run out of visual order,
# and TJ kerning used as word spacing. The interpreter tracks the full
# text-positioning state (Tm/Tlm composition, Td/TD/T*/TL, Tc/Tw/Tz,
# cm + q/Q CTM stack) to place every show op in DEVICE space, then a
# recursive XY-cut orders the runs: vertical whitespace gutters split
# columns (left column emitted fully before the right), horizontal
# whitespace bands split sections, leaves emit lines by (y descending,
# x ascending). Glyph widths are not in scope for a metrics-free
# parser, so advances use a 0.5 em/char estimate — positions of run
# STARTS are exact (they come from the positioning operators), only
# intra-line gap detection is heuristic.

#: TJ adjustment (thousandths of an em, negative moves right-ward
#: text further right) at or past which a gap is a WORD BREAK, not a
#: kerning tweak: kern pairs are typically <= ~100/1000 em while word
#: gaps are >= ~200/1000 em (pdftotext's heuristic family).
_TJ_WORD_BREAK = 180.0

#: Estimated glyph advance in em for width-less fonts.
_EST_CHAR_EM = 0.5

_ID6 = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

#: separable blend modes the composite render applies per-pixel
#: (ISO 32000-1 §11.3.5 Table 136; the gray-channel B(b, s)
#: functions live in raster._blend_gray)
_SEPARABLE_BLEND_MODES = frozenset({
    "Multiply", "Screen", "Overlay", "Darken", "Lighten",
    "ColorDodge", "ColorBurn", "HardLight", "SoftLight",
    "Difference", "Exclusion",
})


def _mat_mul(m1, m2):
    """PDF row-vector convention: apply m1, then m2."""
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def _text_runs(
    content: bytes,
    fonts: dict[str, tuple] | None = None,
    forms: dict | None = None,
    t3_fonts: dict | None = None,
    t3_glyphs: list | None = None,
    ext_gstates: dict | None = None,
    props: dict | None = None,
) -> list[dict]:
    """Interpret the positioning + showing operators into runs:
    ``{x, y, x_end, size, text, font}`` with device-space baseline
    origin (x, y), estimated end, effective device font size, and
    the active font's resource name. ``forms``
    (from :meth:`PdfDocument.page_forms`) makes ``Do`` of a /Form
    XObject execute the form's content inline — its /Matrix composes
    into the CTM, its own fonts merge over the caller's, and the
    graphics/text state restores afterward (the spec's implicit q/Q
    around Do) — so letterhead/stamp/OCR-layer text participates in
    reading order exactly as poppler extracts it.

    ``t3_fonts`` (from :meth:`PdfDocument.page_type3_fonts`) +
    ``t3_glyphs`` (caller-owned output list) switch shows in a Type3
    font to PER-GLYPH mode: each 1-byte code appends ``(font name,
    code, glyph matrix)`` to ``t3_glyphs`` — the matrix is
    FontMatrix · [Tfs·Th 0 0 Tfs 0 0] · Tm · CTM (ISO 32000-1
    §9.2.4/§9.6.5), ready to prepend as a ``cm`` before executing
    the CharProc — and the advance uses the REAL /Widths through
    FontMatrix instead of the estimation heuristic. Extraction paths
    don't pass these, so their run geometry is unchanged.

    Every run carries ``mode``, the active text rendering mode
    (``Tr``, ISO 32000-1 §9.3.6): extraction keeps invisible (mode
    3) text — the OCR-layer idiom, pdftotext parity — while the
    composite renderer skips modes 3 and 7 (neither fills nor
    strokes). /ActualText marked content (ISO 32000-1 §14.9.4,
    ``props`` resolving named BDC property lists per
    :meth:`PdfDocument.page_properties`) collapses everything shown
    inside its BDC..EMC scope into ONE run carrying the declared
    string, anchored at the first replaced run's position with the
    scope's united extent — ligatures, dropcaps and hyphenation
    artifacts extract as the author-declared text; an empty
    /ActualText deletes its scope (the soft-hyphen idiom); the
    outermost scope wins when scopes nest. Positioning state still
    advances through replaced shows, so text AFTER the scope lands
    exactly where the glyphs put it."""
    import math

    runs: list[dict] = []
    ctm = _ID6
    ctm_stack: list[tuple] = []
    tm = tlm = _ID6
    tfs = 12.0  # spec default is unset; 12 is the pragmatic fallback
    tc = tw = 0.0
    tz = 100.0
    tl = 0.0
    cur_cmap: tuple | None = None
    cur_font: str | None = None
    in_text = False
    mode = 0  # Tr text rendering mode
    #: marked-content stack:
    #: (opened_active_actualtext, is_artifact, is_hidden_oc)
    mc_stack: list[tuple[bool, bool, bool]] = []
    at_text: str | None = None  # active scope's replacement text
    at_start: int | None = None  # len(runs) at scope open
    at_t3_start: int | None = None  # len(t3_glyphs) at scope open
    art_depth = 0  # nesting depth inside /Artifact marked content
    oc_depth = 0  # nesting depth inside HIDDEN optional content

    def advance_em(txt: str) -> float:
        """Text-space advance of ``txt`` under current state."""
        nchars = len(txt)
        nspaces = txt.count(" ")
        return (
            (_EST_CHAR_EM * tfs * nchars + tc * nchars + tw * nspaces)
            * tz
            / 100.0
        )

    # frame cache: (a, b, c, d, xscale) of the text rendering matrix,
    # the run's size and its direction (ux, uy) depend only on tm's
    # a..d, the ctm and tfs — all of which change orders of magnitude
    # less often than shows happen (Tm/cm vs one show per TJ). Keyed
    # by identity/value compare, recomputed on miss; e/f (the origin)
    # are recomputed per show from tm's translation row.
    fr_key: tuple | None = None
    fr_ctm: tuple | None = None
    fr_val = (0.0, 0.0, 0.0, 1.0, 1.0, 12.0, 1.0, 0.0)
    hypot = math.hypot

    def show(raw: bytes, parts: list | None = None) -> None:
        nonlocal tm, fr_key, fr_ctm, fr_val
        tm0, tm1, tm2, tm3, tm4, tm5 = tm
        ca, cb, cc, cd, ce, cf = ctm
        if ctm is fr_ctm and fr_key == (tm0, tm1, tm2, tm3, tfs):
            a, b, c, d, xscale, size, ux, uy = fr_val
        else:
            a = tm0 * ca + tm1 * cc
            b = tm0 * cb + tm1 * cd
            c = tm2 * ca + tm3 * cc
            d = tm2 * cb + tm3 * cd
            size = tfs * hypot(c, d)
            size = size if size > 0 else 12.0
            xscale = hypot(a, b) or 1.0
            ux = a / xscale
            uy = b / xscale
            fr_ctm = ctm
            fr_key = (tm0, tm1, tm2, tm3, tfs)
            fr_val = (a, b, c, d, xscale, size, ux, uy)
        e = tm4 * ca + tm5 * cc + ce
        f = tm4 * cb + tm5 * cd + cf
        cmap = cur_cmap
        vertical = cmap is not None and cmap[0] == "vert"
        if vertical:
            cmap = cmap[1]
        t3 = (
            t3_fonts.get(cur_font)
            if t3_fonts and t3_glyphs is not None and cur_font
            else None
        )
        # hoist the decode dispatch out of the parts loop: the hot
        # shape is the 1-byte decode table (len-3 tuple; the
        # "vert"/"utf16" sentinels are len-2, so the test is exact)
        trans = cmap[2] if cmap is not None and len(cmap) == 3 else None
        adv = 0.0
        if t3 is None and not vertical:
            # hot path (no Type3, horizontal), expression shapes kept
            # bit-identical
            if parts is None:  # Tj / ' / ": one string
                text = (
                    _decode_byte_map(raw, trans)
                    if trans is not None
                    else _decode_shown(raw, cmap)
                )
                nch = len(text)
                adv += (
                    (_EST_CHAR_EM * tfs * nch + tc * nch
                     + tw * text.count(" "))
                    * tz
                    / 100.0
                )
            else:
                # all text state into locals (closure cell loads per
                # element add up over long TJ arrays)
                l_tc = tc
                l_tw = tw
                l_tz = tz
                l_tfs = tfs
                em_tfs = _EST_CHAR_EM * l_tfs
                texts: list[str] = []
                neg_wb = -_TJ_WORD_BREAK
                t_append = texts.append
                for el in parts:
                    if type(el) is bytes:
                        s = (
                            _decode_byte_map(el, trans)
                            if trans is not None
                            else _decode_shown(el, cmap)
                        )
                        t_append(s)
                        nch = len(s)
                        adv += (
                            (em_tfs * nch + l_tc * nch
                             + l_tw * s.count(" "))
                            * l_tz
                            / 100.0
                        )
                    elif isinstance(el, (int, float)):
                        adv += -el / 1000.0 * l_tfs * l_tz / 100.0
                        if el <= neg_wb and texts \
                                and not texts[-1].endswith(" "):
                            t_append(" ")
                text = "".join(texts)
        else:
            texts = []
            for el in [raw] if parts is None else parts:
                if isinstance(el, bytes):
                    s = (
                        _decode_byte_map(el, trans)
                        if trans is not None
                        else _decode_shown(el, cmap)
                    )
                    texts.append(s)
                    if t3 is not None:
                        # per-glyph events with REAL /Widths advances
                        fm, widths = t3["matrix"], t3["widths"]
                        for code in el:  # Type3 codes are 1-byte
                            local_tm = _mat_mul((1, 0, 0, 1, adv, 0), tm)
                            gm = _mat_mul(
                                fm,
                                _mat_mul(
                                    (tfs * tz / 100.0, 0.0, 0.0, tfs,
                                     0.0, 0.0),
                                    _mat_mul(local_tm, ctm),
                                ),
                            )
                            if mode not in (3, 7) and oc_depth == 0:
                                # invisible/clip/hidden-layer glyphs
                                # never paint, but their REAL advances
                                # still position what follows
                                t3_glyphs.append((cur_font, code, gm))
                            wx = widths.get(code, 0.0)
                            # advance = text-space displacement of
                            # (wx, 0) through the full /FontMatrix — a
                            # rotated or skewed FontMatrix contributes
                            # fm[1] too (ISO 32000-1 §9.6.5; round-9
                            # advice fix). hypot is unsigned, so a
                            # MIRRORED FontMatrix (fm[0] < 0) must keep
                            # its sign or glyph runs advance the wrong
                            # way (round-10 advice fix).
                            adv += (
                                math.copysign(
                                    math.hypot(fm[0] * wx, fm[1] * wx),
                                    fm[0] or 1.0,
                                ) * tfs
                                + tc + (tw if code == 32 else 0.0)
                            ) * tz / 100.0
                    elif vertical:
                        # WMode 1 (ISO 32000-1 §9.7.4.3): glyphs advance
                        # DOWN the column by the default vertical
                        # displacement — /DW2's w1y default −1000/1000 =
                        # one full em per glyph (CJK glyphs are
                        # full-height); Tz scales horizontal displacements
                        # only, Tw applies to 1-byte code 32 only (these
                        # codes are 2-byte), Tc applies per glyph
                        adv += (1.0 * tfs + tc) * len(s)
                    else:  # advance_em(s), inlined for the hot path
                        nch = len(s)
                        adv += (
                            (_EST_CHAR_EM * tfs * nch + tc * nch
                             + tw * s.count(" "))
                            * tz
                            / 100.0
                        )
                elif isinstance(el, (int, float)):
                    delta = -el / 1000.0 * tfs
                    adv += delta if vertical else delta * tz / 100.0
                    if el <= -_TJ_WORD_BREAK and texts \
                            and not texts[-1].endswith(" "):
                        texts.append(" ")
            text = "".join(texts)
        # empty shows still anchor a line (a `() Tj` on its own
        # baseline is a BLANK line — content_text emits its break,
        # so reading order must too)
        if vertical:
            # reading direction = the advance direction (image of
            # text-space (0,-1)); x_end carries the run LENGTH along
            # it — _reading_frame rotates (x, y) and re-derives the
            # end from the length, so pre-rotation x_end need not be
            # a device x
            yscale = hypot(c, d) or 1.0
            if oc_depth > 0:  # hidden layer: advance, never emit
                tm = (tm0, tm1, tm2, tm3,
                      tm4 - adv * tm2, tm5 - adv * tm3)
                return
            runs.append(
                {
                    "x": e,
                    "y": f,
                    "x_end": e + adv * yscale,
                    "size": size,
                    "text": text,
                    "font": cur_font,
                    "ux": -c / yscale,
                    "uy": -d / yscale,
                    "mode": mode,
                    "artifact": art_depth > 0,
                }
            )
            tm = (tm0, tm1, tm2, tm3,
                  tm4 - adv * tm2, tm5 - adv * tm3)
            return
        if oc_depth > 0:  # hidden layer: advance, never emit
            tm = (tm0, tm1, tm2, tm3,
                  tm4 + adv * tm0, tm5 + adv * tm1)
            return
        runs.append(
            {
                "x": e,
                "y": f,
                "x_end": e + adv * xscale,
                "size": size,
                "text": text,
                "font": cur_font,
                # device-space text direction (unit), for dominant-
                # orientation detection on rotated pages
                "ux": ux,
                "uy": uy,
                "mode": mode,
                "artifact": art_depth > 0,
            }
        )
        tm = (tm0, tm1, tm2, tm3,
              tm4 + adv * tm0, tm5 + adv * tm1)

    def finalize_scope() -> None:
        """Close the active /ActualText scope: replace every run it
        produced with one run carrying the declared string (empty
        string = delete), and drop any Type3 glyph-paint events the
        replaced shows emitted."""
        nonlocal at_text, at_start, at_t3_start
        t, at_text = at_text, None
        seg = runs[at_start:] if at_start is not None else []
        if at_start is not None:
            del runs[at_start:]
        if t3_glyphs is not None and at_t3_start is not None:
            del t3_glyphs[at_t3_start:]
        at_start = at_t3_start = None
        if not t or oc_depth > 0:
            return
        if seg:
            first, last = seg[0], seg[-1]
            font = first["font"]
            if t3_fonts and font in t3_fonts:
                # the replacement paints via the builtin glyph
                # raster, not the (dropped) CharProc events
                font = None
            runs.append(
                {
                    "x": first["x"],
                    "y": first["y"],
                    "x_end": last["x_end"],
                    "size": first["size"],
                    "text": t,
                    "font": font,
                    "ux": first["ux"],
                    "uy": first["uy"],
                    "mode": first.get("mode", 0),
                    "artifact": first.get("artifact", False),
                }
            )
            return
        # no show inside the scope: anchor at the current position
        trm = _mat_mul(tm, ctm)
        a, b, c, d, e, f = trm
        size = tfs * math.hypot(c, d)
        xs = math.hypot(a, b) or 1.0
        runs.append(
            {
                "x": e,
                "y": f,
                "x_end": e + advance_em(t) * xs,
                "size": size if size > 0 else 12.0,
                "text": t,
                "font": None,
                "ux": a / xs,
                "uy": b / xs,
                "mode": mode,
                "artifact": art_depth > 0,
            }
        )

    def td(tx: float, ty: float) -> None:
        """``tlm = [1 0 0 1 tx ty] x tlm`` (the ``_mat_mul`` terms
        with a1 = d1 = 1 and b1 = c1 = 0 written out; 1 * x is x for
        every float, 0 * x keeps its NaN and signed zero)."""
        nonlocal tm, tlm
        a2, b2, c2, d2, e2, f2 = tlm
        tm = tlm = (a2 + 0 * c2, b2 + 0 * d2, 0 * a2 + c2, 0 * b2 + d2,
                    tx * a2 + ty * c2 + e2, tx * b2 + ty * d2 + f2)

    def exec_ops(
        ops_content: bytes,
        frame_fonts: dict | None,
        frame_forms: dict | None,
        depth: int,
    ) -> None:
        nonlocal ctm, tm, tlm, tfs, tc, tw, tz, tl, cur_cmap, \
            cur_font, in_text, mode, at_text, at_start, at_t3_start, \
            art_depth, oc_depth
        for op, stack in _iter_content_ops(ops_content, _LAYOUT_OPS):
            try:
                # dispatch ordered by real-corpus frequency (TJ/Td/Tf
                # carry text-heavy pages); semantics per-op unchanged
                if op == b"TJ":
                    if in_text and stack and isinstance(stack[-1], list):
                        show(b"", parts=stack[-1])
                elif op == b"Tj":
                    if in_text and stack and isinstance(stack[-1], bytes):
                        show(stack[-1])
                elif op == b"Td" and len(stack) >= 2:
                    td(float(stack[-2]), float(stack[-1]))
                elif op == b"Tf" and len(stack) >= 2:
                    if isinstance(stack[-2], str):
                        cur_font = stack[-2]
                        if frame_fonts:
                            cur_cmap = frame_fonts.get(stack[-2])
                    tfs = float(stack[-1])
                elif op == b"Tm" and len(stack) >= 6:
                    tm = tlm = tuple(float(v) for v in stack[-6:])
                elif op == b"cm" and len(stack) >= 6:
                    ctm = _mat_mul(tuple(float(v) for v in stack[-6:]), ctm)
                elif op == b"BT":
                    in_text = True
                    tm = tlm = _ID6
                elif op == b"ET":
                    in_text = False
                elif op == b"q":
                    ctm_stack.append(ctm)
                elif op == b"Q":
                    if ctm_stack:
                        ctm = ctm_stack.pop()
                elif op == b"TD" and len(stack) >= 2:
                    tl = -float(stack[-1])
                    td(float(stack[-2]), float(stack[-1]))
                elif op == b"T*":
                    td(0.0, -tl)
                elif op == b"TL" and stack:
                    tl = float(stack[-1])
                elif op == b"Tc" and stack:
                    tc = float(stack[-1])
                elif op == b"Tw" and stack:
                    tw = float(stack[-1])
                elif op == b"Tz" and stack:
                    tz = float(stack[-1])
                elif op == b"'":
                    if in_text and stack and isinstance(stack[-1], bytes):
                        td(0.0, -tl)
                        show(stack[-1])
                elif op == b'"':
                    if in_text and len(stack) >= 3 \
                            and isinstance(stack[-1], bytes):
                        tw = float(stack[-3])
                        tc = float(stack[-2])
                        td(0.0, -tl)
                        show(stack[-1])
                elif op == b"Tr" and stack:
                    mode = int(float(stack[-1]))
                elif op == b"BDC":
                    tag = stack[-2] if len(stack) >= 2 else None
                    pd = stack[-1] if stack else None
                    if isinstance(pd, str) and props:
                        pd = props.get(pd)
                    at = None
                    if at_text is None and isinstance(pd, dict):
                        v = pd.get("/ActualText")
                        if isinstance(v, bytes):
                            at = _decode_text_string(v)
                    is_art = tag == "/Artifact"
                    # /OC scope whose property list the document's
                    # default config hides (page_properties marks it)
                    is_oc = (tag == "/OC" and isinstance(pd, dict)
                             and bool(pd.get("__oc_hidden__")))
                    mc_stack.append((at is not None, is_art, is_oc))
                    if is_art:
                        art_depth += 1
                    if is_oc:
                        oc_depth += 1
                    if at is not None:
                        at_text = at
                        at_start = len(runs)
                        at_t3_start = (
                            len(t3_glyphs) if t3_glyphs is not None
                            else None
                        )
                elif op == b"BMC":
                    is_art = bool(stack) and stack[-1] == "/Artifact"
                    mc_stack.append((False, is_art, False))
                    if is_art:
                        art_depth += 1
                elif op == b"EMC":
                    if mc_stack:
                        opened, is_art, is_oc = mc_stack.pop()
                        if is_art:
                            art_depth -= 1
                        if is_oc:
                            oc_depth -= 1
                        if opened:
                            finalize_scope()
                elif op == b"gs" and stack \
                        and isinstance(stack[-1], str) and ext_gstates:
                    g = ext_gstates.get(stack[-1])
                    if g and "Font" in g:
                        cur_cmap, tfs = g["Font"][0], g["Font"][1]
                        cur_font = None
                elif op == b"Do" and stack and isinstance(stack[-1], str) \
                        and frame_forms and depth < 8:
                    ent = frame_forms.get(stack[-1])
                    if ent is None:
                        continue
                    fcontent, ffonts, fmatrix, fforms = ent
                    # implicit q/Q around the form invocation: the
                    # whole graphics + text state restores after. The
                    # ctm_stack snapshot must be a full copy: a
                    # malformed form with more Q than q pops the
                    # CALLER's saved entries, which a length-truncate
                    # alone cannot restore.
                    saved = (ctm, tm, tlm, tfs, tc, tw, tz, tl,
                             cur_cmap, cur_font, in_text, mode)
                    saved_stack = list(ctm_stack)
                    mc_len = len(mc_stack)
                    ctm = _mat_mul(fmatrix, ctm)
                    in_text = False
                    merged = {**(frame_fonts or {}), **(ffonts or {})}
                    exec_ops(fcontent, merged,
                             {**(frame_forms or {}), **(fforms or {})},
                             depth + 1)
                    # marked content must nest within one stream
                    # (§14.6): a form's unclosed BDCs end here, never
                    # leak into the caller's scope
                    while len(mc_stack) > mc_len:
                        opened, is_art, is_oc = mc_stack.pop()
                        if is_art:
                            art_depth -= 1
                        if is_oc:
                            oc_depth -= 1
                        if opened:
                            finalize_scope()
                    (ctm, tm, tlm, tfs, tc, tw, tz, tl,
                     cur_cmap, cur_font, in_text, mode) = saved
                    ctm_stack[:] = saved_stack
            except (TypeError, ValueError):
                continue  # malformed operands: skip the op, keep going

    exec_ops(content, fonts, forms, 0)
    if at_text is not None:  # malformed stream: scope never closed
        finalize_scope()
    return runs


# bracket pairs swapped when a visual RTL segment is restored to
# logical order (UAX #9 rule L4 inverted: display mirrors glyphs in
# RTL runs, so the visually shown "(" in an RTL run IS the logical
# ")")
_BIDI_MIRROR = str.maketrans("()[]{}<>«»", ")(][}{><»«")


def _bidi_class(ch: str) -> str:
    """Collapsed UAX #9 class for the visual→logical pass: 'R'
    (strong RTL: R/AL), 'L' (strong LTR), 'D' (digits: EN/AN — shown
    left-to-right inside either base direction), 'S' (number
    separators ES/CS — part of the number when single between two
    digits, W4), 'N' (everything else: neutrals, weak marks,
    whitespace)."""
    import unicodedata

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


def _w4_merge(cls: list[str]) -> list[str]:
    """UAX #9 W4 on the collapsed classes: a SINGLE separator (ES/CS)
    between two digits becomes part of the number ('3-2', '1.5',
    '1,000'); doubled separators and separators next to non-digits
    stay neutral-ish."""
    n = len(cls)
    return [
        "D"
        if c == "S" and 0 < i < n - 1
        and cls[i - 1] == "D" and cls[i + 1] == "D"
        else c
        for i, c in enumerate(cls)
    ]


def _digit_islands(cls: list[str]) -> list[tuple]:
    """Maximal number runs after W4: digits glued through single
    ES/CS separators, NOT through whitespace — two space-separated
    numbers inside RTL text are separate islands that swap with the
    surrounding RTL run."""
    merged = _w4_merge(cls)
    runs = []
    i, n = 0, len(merged)
    while i < n:
        if merged[i] == "D":
            j = i
            while j < n and merged[j] == "D":
                j += 1
            runs.append((i, j))
            i = j
        else:
            i += 1
    return runs


def _segments_with_interior_neutrals(
    cls: list[str], member, interior: tuple = ("N",)
) -> list[tuple]:
    """Maximal [i, j) spans whose ends are ``member`` classes and
    whose interior may also contain ``interior``-class runs BETWEEN
    two members (UAX #9 N1: neutrals take the surrounding direction
    only when both neighbors agree; digits glue RTL runs because N1
    treats EN/AN as R)."""
    spans = []
    i, n = 0, len(cls)
    while i < n:
        if not member(cls[i]):
            i += 1
            continue
        j = i + 1
        k = j
        while k < n:
            if member(cls[k]):
                j = k + 1
                k = j
            elif cls[k] in interior:
                k += 1
            else:
                break
        spans.append((i, j))
        i = k if k > j else j
    return spans


def _restore_ltr_islands(chars: list[str], cls: list[str]) -> list[str]:
    """Given a fully REVERSED visual line (base RTL), re-reverse the
    embedded LTR islands back to their left-to-right order and
    mirror paired brackets in the RTL remainder. Two island kinds,
    per the W7 distinction: digits whose nearest preceding strong is
    L join the STRONG-L island (whitespace glues, N1 — 'test 123'
    is one island), while digits in RTL context ('d') island alone,
    glued only through single number separators (W4) — two
    space-separated numbers swap with the RTL text around them."""
    out = list(chars)
    n = len(out)
    # Digit typing, inverted for the REVERSED frame: logically a
    # digit run belongs to an L island only when a strong L PRECEDES
    # it (W7) — and an island reverses as a whole, so in the
    # reversed-visual string that L sits AFTER the digits. Type 'l'
    # when the next strong (scanning right, over weaks) is L.
    typed = list(cls)
    nxt = "R"  # base RTL: eor is R
    for i in range(n - 1, -1, -1):
        c = cls[i]
        if c in ("R", "L"):
            nxt = c
        elif c == "D":
            typed[i] = "l" if nxt == "L" else "d"
    island = [False] * n
    for i, j in _segments_with_interior_neutrals(
        typed, lambda c: c in ("L", "l"), interior=("N", "S")
    ):
        out[i:j] = out[i:j][::-1]
        for k in range(i, j):
            island[k] = True
    for i, j in _digit_islands(cls):
        if island[i]:  # l-digits already restored inside an L island
            continue
        out[i:j] = out[i:j][::-1]
        for k in range(i, j):
            island[k] = True
    for k, ch in enumerate(out):
        if not island[k]:
            out[k] = ch.translate(_BIDI_MIRROR)
    return out


def _reverse_rtl_segment(seg: str) -> str:
    """One maximal VISUAL RTL segment → logical order: reverse the
    whole segment, then restore digit islands (maximal number runs
    after W4 — numbers read left-to-right even inside RTL text, and
    a single ES/CS between digits is part of the number) and mirror
    paired brackets in the RTL part."""
    rev = seg[::-1]
    cls = [_bidi_class(ch) for ch in rev]
    out = list(rev)
    island = [False] * len(out)
    for i, j in _digit_islands(cls):
        out[i:j] = out[i:j][::-1]
        for k in range(i, j):
            island[k] = True
    for k, ch in enumerate(out):
        if not island[k]:
            out[k] = ch.translate(_BIDI_MIRROR)
    return "".join(out)


_RTL_BLOCK_RE = re.compile("[\u0590-\u08FF\uFB1D-\uFEFC]")


def _bidi_logical(line: str) -> str:
    """VISUAL-order line text → LOGICAL order (UAX #9 subset,
    inverted — round-11 close of the RTL what's-missing item). A PDF
    paints glyphs at positions, so the x-sorted line assembly yields
    VISUAL order; Hebrew/Arabic text must be re-ordered to logical
    (memory) order the way pdftotext emits it. Rules applied:

    - Base direction by strong-character majority (R/AL vs L; P2/P3
      approximated per line).
    - Base RTL: the whole line reverses, then embedded LTR islands
      (strong-L / digit spans with interior neutrals, N1) restore
      their internal order.
    - Base LTR: each maximal visual RTL segment (strong-R spans,
      interior neutrals/digits allowed between strong Rs) reverses
      in place.
    - Digits stay left-to-right in all contexts (EN/AN islands).
    - Paired brackets in reversed RTL context mirror (L4 inverted).

    Lines with no strong RTL character return unchanged (the common
    path — one any() scan, no allocation)."""
    # cheap block prefilter (Hebrew..Arabic Extended-A, Hebrew/
    # Arabic presentation forms); _bidi_class decides precisely —
    # a compiled character-class scan keeps the no-RTL common path
    # at C speed instead of a per-char Python loop
    if _RTL_BLOCK_RE.search(line) is None:
        return line
    cls = [_bidi_class(ch) for ch in line]
    if "R" not in cls:
        return line
    if cls.count("R") > cls.count("L"):
        rev = line[::-1]
        return "".join(
            _restore_ltr_islands(list(rev), [_bidi_class(c) for c in rev])
        )
    out = []
    pos = 0
    # base-LTR: a visual RTL segment glues THROUGH interior digits
    # and neutrals (N1 treats EN/AN as R), so "price 123 shekel" in
    # Hebrew reorders as one span — the words around the number swap
    # back — while digits inside restore left-to-right
    for i, j in _segments_with_interior_neutrals(
        cls, lambda c: c == "R", interior=("N", "S", "D")
    ):
        out.append(line[pos:i])
        out.append(_reverse_rtl_segment(line[i:j]))
        pos = j
    out.append(line[pos:])
    return "".join(out)


def _projection_gaps(intervals: list[tuple], min_gap: float) -> list[float]:
    """Midpoints of gaps >= ``min_gap`` in the union of intervals."""
    # (a, b) is exactly (min(a, b), max(a, b)) when a < b; the calls
    # stay for the rest (equal ends, NaN)
    ivs = sorted([(a, b) if a < b else (min(a, b), max(a, b))
                  for a, b in intervals])
    gaps: list[float] = []
    cur_end = ivs[0][1]
    for lo, hi in ivs[1:]:
        if lo - cur_end >= min_gap:
            gaps.append((cur_end + lo) / 2.0)
        if hi > cur_end:  # cur_end = max(cur_end, hi)
            cur_end = hi
    return gaps


_RUN_X = itemgetter("x")


def _emit_lines(runs: list[dict]) -> list[list[dict]]:
    """Group runs into baselines (y within half a font size), order
    lines by y descending and runs within a line by x ascending.
    OVERPRINT dedup (pdftotext behavior): a run showing the same text
    at (nearly) the same position as another on its line — the
    fake-bold double-draw — is emitted once."""
    lines: list[list[dict]] = []
    # each new line's head y is <= every existing head (runs arrive
    # y-descending), so heads are non-increasing and the candidate
    # lines for a run — |head_y - y| <= 0.5*min(head_size, size) <=
    # 0.5*size — live in a bisect window of the (negated, ascending)
    # head list instead of a full scan. First match in CREATION
    # order wins, exactly as the full scan did.
    neg_heads: list[float] = []
    for r in sorted(runs, key=lambda r: (-r["y"], r["x"])):
        ry = r["y"]
        rs = r["size"]
        lo = bisect_left(neg_heads, -ry - 0.5 * rs)
        hi = bisect_right(neg_heads, -ry + 0.5 * rs)
        if lo == hi:  # no candidate line: the usual case
            lines.append([r])
            neg_heads.append(-ry)
            continue
        for li in range(lo, hi):
            line = lines[li]
            head = line[0]
            if abs(head["y"] - ry) <= 0.5 * min(head["size"], rs):
                # overprint radius is TIGHT in y too (~0.15 em, the
                # fake-bold offset scale) — the line-grouping
                # tolerance above is far wider, and identical values
                # on nearby but distinct baselines are real data
                rt = r["text"]
                rx = r["x"]
                for p in line:
                    if (
                        p["text"] == rt
                        and abs(p["x"] - rx) <= 0.15 * rs
                        and abs(p["y"] - ry) <= 0.15 * rs
                    ):
                        break
                else:
                    line.append(r)
                break
        else:
            lines.append([r])
            neg_heads.append(-ry)
    for line in lines:
        if len(line) > 1:
            line.sort(key=_RUN_X)
    lines.sort(key=lambda ln: -ln[0]["y"])
    return lines


def _xy_cut(runs: list[dict], med: float) -> list[list[dict]]:
    """Recursive XY-cut: returns line groups in reading order."""
    if not runs:
        return []
    # vertical cut (columns): a whitespace gutter no run crosses.
    # A gutter must PERSIST vertically — every side needs >= 2
    # distinct baselines, else a single wide word gap on one line
    # would masquerade as a column split (it joins as a space in the
    # leaf instead).
    v_min = max(0.9 * med, 16.0)
    vgaps = _projection_gaps([(r["x"], r["x_end"]) for r in runs], v_min)
    if vgaps:
        parts: list[list[dict]] = [[] for _ in range(len(vgaps) + 1)]
        for r in runs:
            i = sum(1 for g in vgaps if r["x"] >= g)
            parts[i].append(r)
        nonempty = [p for p in parts if p]
        if len(nonempty) > 1 and all(
            len({round(r["y"], 1) for r in p}) >= 2 for p in nonempty
        ):
            out: list[list[dict]] = []
            for p in parts:
                out.extend(_xy_cut(p, med))
            return out
    # horizontal cut (sections): a whitespace band taller than a line
    h_min = 0.9 * med
    hgaps = _projection_gaps(
        [(r["y"], r["y"] + 0.9 * r["size"]) for r in runs], h_min
    )
    if hgaps:
        parts = [[] for _ in range(len(hgaps) + 1)]
        for r in runs:
            i = sum(1 for g in hgaps if r["y"] >= g)
            parts[i].append(r)
        if sum(1 for p in parts if p) > 1:
            out = []
            for p in reversed(parts):  # top band (largest y) first
                out.extend(_xy_cut(p, med))
            return out
    return _emit_lines(runs)


def _reading_frame(
    runs: list[dict],
    frame: tuple[float, float] | None = None,
) -> list[dict]:
    """Map runs into the dominant-orientation READING frame (in
    place): vote the text direction into a quadrant (weighted by
    glyph count) and rotate coords so text flows left-to-right —
    90/180/270-degree pages then order correctly under the standard
    XY-cut; minority runs (watermarks) follow the majority. The
    remap is ANCHORED to the page ``frame`` (its (w, h); US Letter
    default): coordinates stay inside a positive page box instead of
    rotating about the origin, so the composition with the /Rotate
    display transform is the IDENTITY for upright-in-display text —
    a /Rotate page whose text displays sideways reads in the text's
    own frame with its original in-page coordinates, the poppler
    convention. Runs once per page (:func:`_display_runs`), so every
    text surface agrees on rotated pages."""
    import math

    votes = [0, 0, 0, 0]
    for r in runs:
        uy, ux = r["uy"], r["ux"]
        # atan2(+-0, x > 0) is +-0, which rounds to quadrant 0
        q = 0 if uy == 0 and ux > 0 else round(
            math.degrees(math.atan2(uy, ux)) / 90) % 4
        votes[q] += len(r["text"]) or 1
    dom = max(range(4), key=lambda q: votes[q])
    if dom:
        w, h = frame or (612.0, 792.0)
        # text pointing up (dom=1) reads after rotating the frame 90
        # clockwise; left (2) after 180; down (3) after 270
        rot = (90, 180, 270)[dom - 1]
        for r in runs:
            length = r["x_end"] - r["x"]  # advance along text direction
            r["x"], r["y"] = rotate_point(r["x"], r["y"], rot, w, h)
            r["x_end"] = r["x"] + length
    return runs


def _display_frame(
    rotate: int,
    media_box: tuple[float, float, float, float] | None,
) -> tuple[float, float]:
    """(w, h) of the DISPLAYED page frame (dims swap at 90/270)."""
    x0, y0, x1, y1 = media_box or (0.0, 0.0, 612.0, 792.0)
    w, h = x1 - x0, y1 - y0
    return (h, w) if rotate in (90, 270) else (w, h)


def _display_runs(
    runs: list[dict],
    rotate: int = 0,
    media_box: tuple[float, float, float, float] | None = None,
) -> list[dict]:
    """Runs mapped (in place) into the page's displayed reading frame:
    /Rotate and /MediaBox first (:func:`_rotate_runs`), then the
    dominant-orientation vote (:func:`_reading_frame`). Every
    reading-order surface starts from these runs."""
    return _reading_frame(
        _rotate_runs(runs, rotate, media_box),
        frame=_display_frame(rotate, media_box),
    )


def _page_text_inputs(
    doc: "PdfDocument", page: dict
) -> tuple[dict, int, tuple[float, float, float, float]]:
    """The one place that names a page's text-interpretation inputs:
    ``(interpreter keywords, rotate, media_box)``. The keywords —
    content stream, fonts, /Form XObjects, ExtGStates, named
    marked-content properties (which carry the hidden optional
    content) — fit both :func:`_text_runs` and :func:`content_text`;
    /Rotate and /MediaBox place the runs in the displayed frame."""
    content, fonts = doc.page_content(page), doc.page_fonts(page)
    rotate, media_box = page_rotation(doc, page), page_media_box(doc, page)
    return ({"content": content, "fonts": fonts,
             "forms": doc.page_forms(page),
             "ext_gstates": doc.page_ext_gstates(page),
             "props": doc.page_properties(page)}, rotate, media_box)


def page_runs(doc: "PdfDocument", page: dict) -> list[dict]:
    """A page's text runs (one interpreter pass) in its displayed
    reading frame: the input of every ``runs_*`` text surface.
    Callers that share the list must not mutate it."""
    kw, rotate, media_box = _page_text_inputs(doc, page)
    return _display_runs(_text_runs(**kw), rotate, media_box)


def _cut_lines(runs: list[dict]) -> list[list[dict]]:
    """Reading-order line groups of display-frame runs: the XY-cut at
    the page's median font size. Leaves the runs untouched."""
    if not runs:
        return []
    sizes = sorted(r["size"] for r in runs)
    return _xy_cut(runs, sizes[len(sizes) // 2])


def cut_word_boxes(cut: list[list[dict]]) -> list[dict]:
    """Word-level boxes (the ``pdftotext -bbox`` shape) of a page's
    :func:`_cut_lines` groups: every whitespace-delimited word with
    its device-space baseline box ``{word, x0, y0, x1, y1}``, in
    reading order (the cut :func:`_layout_lines` reads). RTL lines
    stay in VISUAL order here — boxes are geometry, and per-word
    geometry has no logical reordering (the text surface is the one
    that emits UAX #9 logical order). Run-start positions are EXACT
    (they come from the positioning operators; /Rotate pages are
    mapped into the displayed frame first); intra-run word offsets use
    the same deterministic 0.5 em/char advance estimate the layout
    engine uses, so boxes are approximate but reproducible. y0 is the
    baseline, y1 = baseline + the device font size (ascent box)."""
    out: list[dict] = []
    for line in cut:
        for r in line:
            text = r["text"]
            n = len(text)
            if not text.strip():
                continue
            # distribute the run's advance over its chars (uniform
            # estimate — matches the run's own x_end)
            per = (r["x_end"] - r["x"]) / n if n else 0.0
            i = 0
            while i < n:
                if text[i].isspace():
                    i += 1
                    continue
                j = i
                while j < n and not text[j].isspace():
                    j += 1
                out.append(
                    {
                        "word": text[i:j],
                        "x0": round(r["x"] + per * i, 2),
                        "y0": round(r["y"], 2),
                        "x1": round(r["x"] + per * j, 2),
                        "y1": round(r["y"] + r["size"], 2),
                    }
                )
                i = j
    return out


def content_word_boxes(
    content: bytes,
    fonts: dict[str, tuple] | None = None,
    rotate: int = 0,
    media_box: tuple[float, float, float, float] | None = None,
    forms: dict | None = None,
    ext_gstates: dict | None = None,
    props: dict | None = None,
) -> list[dict]:
    """:func:`cut_word_boxes` of one content stream, with its runs
    mapped into the displayed frame of ``rotate``/``media_box``."""
    return cut_word_boxes(_cut_lines(_display_runs(
        _text_runs(content, fonts, forms,
                   ext_gstates=ext_gstates, props=props),
        rotate, media_box)))


def extract_page_word_boxes(data: bytes) -> list[list[dict]]:
    """Per-page word boxes of a PDF, in page order (the
    ``pdftotext -bbox`` primitive), ToUnicode-aware."""
    doc = PdfDocument(data)
    return [cut_word_boxes(_cut_lines(page_runs(doc, p))) for p in doc.pages()]


def lines_text(lines: list[tuple[float, float, str, bool]]) -> str:
    """Page text of :func:`_layout_lines`' lines, one per line."""
    return "\n".join(t for _, _, t, _ in lines)


def runs_layout_text(runs: list[dict]) -> str:
    """Reading-order text of display-frame runs — see
    :func:`content_text_layout`."""
    return lines_text(_layout_lines(_cut_lines(runs)))


def content_text_layout(
    content: bytes,
    fonts: dict[str, tuple] | None = None,
    rotate: int = 0,
    media_box: tuple[float, float, float, float] | None = None,
    forms: dict | None = None,
    ext_gstates: dict | None = None,
    props: dict | None = None,
) -> str:
    """Text shown by a content stream in READING ORDER (pdftotext
    parity): runs are placed in device space by the full positioning
    state machine, columns split at vertical whitespace gutters (left
    column emitted completely before the right), sections at
    horizontal whitespace bands, lines ordered (y descending, x
    ascending), and large negative TJ adjustments become word breaks.
    Identical to :func:`content_text` on already-in-order single-
    column streams. ``rotate``/``media_box`` (the page's inheritable
    /Rotate and /MediaBox) map runs into the DISPLAYED frame first —
    see :func:`_rotate_runs`."""
    return runs_layout_text(_display_runs(
        _text_runs(content, fonts, forms,
                   ext_gstates=ext_gstates, props=props),
        rotate, media_box))


def _layout_lines(cut: list[list]) -> list[tuple[float, float, str, bool]]:
    """Reading-order lines of a page's :func:`_cut_lines` groups as
    ``(y, size, text, artifact)`` — the shared back end of
    :func:`lines_text` and :func:`lines_paragraphs`.
    ``artifact`` is True when EVERY run on the line sits inside
    /Artifact marked content (ISO 32000-1 §14.8.2.2 — running
    headers/footers/page numbers in tagged PDFs), the signal
    :func:`lines_paragraphs` uses to drop pagination furniture from
    training text. The groups and their runs are read, never
    written: a page's cut feeds several surfaces."""
    out: list[tuple[float, float, str, bool]] = []
    for line in cut:
        if len(line) == 1:  # one run: nothing to fold, join or space
            r = line[0]
            out.append((r["y"], r["size"], _bidi_logical(r["text"]),
                        bool(r.get("artifact"))))
            continue
        # TeX \copyright overlay (round-10, from the real-corpus
        # libtasn1.pdf): plain TeX composes © by painting a text
        # 'c' INSIDE the CMSY circlecopyrt glyph (\ooalign). Once
        # that circle maps to ©, a single-char 'c' run CENTERED on
        # a © run on the same baseline is the same character
        # painted twice — drop it, keep the ©. The guard is
        # center-coincidence (round-11 advice), not merely
        # start-inside-extent: a legitimate kerned 'c' beginning a
        # word right after © (TJ-split 'c'+'opyright', '©company')
        # starts inside the ©'s ESTIMATED extent too — the 0.5 em
        # estimate undershoots the wide circle glyph — but its
        # center sits >= ~0.5 em past the ©'s center, while a true
        # \ooalign overlay centers within ~0.3 em (0.28 em on the
        # real libtasn1 page) and shares the baseline.
        # id of each © run on the line -> the run as folded so far
        cps = {id(r): r for r in line if r["text"] == "©"}
        if cps:
            kept = []
            for r in line:
                host = next(
                    (k for k, q in cps.items()
                     if q["x"] - 0.1 <= r["x"] <= q["x_end"]
                     and abs((r["x"] + r["x_end"])
                             - (q["x"] + q["x_end"])) / 2.0
                     <= 0.35 * q["size"]
                     and abs(r["y"] - q["y"]) <= 0.15 * q["size"]
                     and r["size"] <= 2 * q["size"]),
                    None,
                ) if r["text"] == "c" else None
                if host is None:
                    kept.append(r)
                else:
                    # fold the companion into a copy of the ©: its
                    # extent is the union, and the © stands as its
                    # own word (TeX sources always set \copyright off
                    # with spaces; the char-estimate gap test
                    # undershoots the compound's true metrics)
                    q = cps[host]
                    cps[host] = {**q, "x_end": max(q["x_end"], r["x_end"]),
                                 "_word": True}
            line = [cps.get(id(r), r) for r in kept]
        parts: list[str] = []
        for i, r in enumerate(line):
            if i and parts and any(parts):
                gap = r["x"] - line[i - 1]["x_end"]
                ref = min(r["size"], line[i - 1]["size"])
                # a space for a word-sized forward gap, AND for a
                # TOTAL overlap (a distinct run starting at/before
                # the previous run's start is overlapping text, not a
                # continuation). A negative gap alone is NOT a break:
                # the 0.5 em/char estimate overshoots narrow fonts,
                # so kerned continuation fragments ('milli'+'meter'
                # placed at true metrics) legitimately start inside
                # the previous run's ESTIMATED extent.
                if (
                    r["text"]
                    and (
                        gap > 0.3 * ref
                        or r["x"] <= line[i - 1]["x"] + 0.3 * ref
                        or r.get("_word")
                        or line[i - 1].get("_word")
                    )
                    and not parts[-1].endswith(" ")
                    and not r["text"].startswith(" ")
                ):
                    parts.append(" ")
            parts.append(r["text"])
        # x-sorted assembly is VISUAL order; RTL scripts re-order to
        # logical (UAX #9 subset, pdftotext parity) — a no-op scan
        # for lines with no RTL character
        out.append((line[0]["y"], line[0]["size"],
                    _bidi_logical("".join(parts)),
                    all(r.get("artifact") for r in line)))
    return out


def lines_paragraphs(
    lines: list[tuple[float, float, str, bool]], drop_artifacts: bool = False
) -> list[str]:
    """PARAGRAPH segmentation over the reading-order lines of
    :func:`_layout_lines` (a page's lines serve both the ``paragraphs``
    and the ``body_paragraphs`` feature) — the
    layout-aware chunking unit a training pipeline wants. A new
    paragraph starts when the vertical advance to the next line
    exceeds 1.8x the median line advance (a blank-line-sized gap),
    or when y does not decrease (a column/section jump from the
    XY-cut). Lines within a paragraph join with a single space
    (reflow), blank lines are dropped. DEHYPHENATION at the join: a
    line ending letter+'-' whose next line starts with a lowercase
    letter is a typographic line break, so the hyphen drops and the
    halves join solid ('estab-'+'lish' -> 'establish'); a
    CAPITALIZED continuation is a compound's second half, so the
    hyphen stays and the halves join without a space
    ('Euler-'+'Lagrange' -> 'Euler-Lagrange'); anything else joins
    with a space. (A lowercase compound split exactly at its own
    hyphen joins solid — undecidable without a lexicon, the
    standard trade-off every dehyphenating pipeline makes.)
    ``drop_artifacts=True`` removes lines living
    entirely inside /Artifact marked content (running headers,
    footers, page numbers — ISO 32000-1 §14.8.2.2) BEFORE
    segmentation, the tagged-PDF curation cut. Deterministic — a
    pure function of the positioning operators."""
    lines = [
        (y, size, t)
        for y, size, t, art in lines
        if t.strip() and not (drop_artifacts and art)
    ]
    if not lines:
        return []
    advances = [
        a - b
        for (a, _, _), (b, _, _) in zip(lines, lines[1:])
        if a - b > 0
    ]
    advances.sort()
    med_adv = advances[len(advances) // 2] if advances else 0.0
    paras: list[list[str]] = [[lines[0][2]]]
    for (py, psize, _), (y, _, t) in zip(lines, lines[1:]):
        gap = py - y
        if gap <= 0 or (med_adv and gap > 1.8 * med_adv):
            paras.append([t])
        else:
            paras[-1].append(t)

    def reflow(p: list[str]) -> str:
        out = p[0]
        for t in p[1:]:
            broken = (
                len(out) >= 2 and out.endswith("-") and out[-2].isalpha()
            )
            if broken and t[:1].islower():
                # typographic line-break hyphen: drop it. (A
                # lowercase-continued compound like 'well-known'
                # split exactly at its hyphen is indistinguishable
                # without a lexicon and joins solid — the standard
                # dehyphenation trade-off.)
                out = out[:-1] + t
            elif broken and t[:1].isupper():
                # capitalized continuation = a compound's second
                # half ('Euler-'+'Lagrange'): keep the hyphen,
                # join without a space
                out = out + t
            else:
                out = out + " " + t
        return out

    return [reflow(p) for p in paras]


def content_paragraphs(
    content: bytes,
    fonts: dict[str, tuple] | None = None,
    rotate: int = 0,
    media_box: tuple[float, float, float, float] | None = None,
    forms: dict | None = None,
    ext_gstates: dict | None = None,
    props: dict | None = None,
    drop_artifacts: bool = False,
) -> list[str]:
    """:func:`lines_paragraphs` of one content stream, with its runs
    mapped into the displayed frame of ``rotate``/``media_box``."""
    return lines_paragraphs(_layout_lines(_cut_lines(_display_runs(
        _text_runs(content, fonts, forms,
                   ext_gstates=ext_gstates, props=props),
        rotate, media_box))), drop_artifacts)


def runs_char_fraction(runs: list[dict], counted) -> float:
    """Share of the runs' non-whitespace characters that sit in runs
    for which ``counted(run)`` holds; 0.0 for a page without text."""
    tot = hit = 0
    for r in runs:
        n = sum(1 for ch in r["text"] if not ch.isspace())
        tot += n
        if counted(r):
            hit += n
    return hit / tot if tot else 0.0


# ---------------------------------------------------------------------
# page geometry + drawing operators (composite page render, A6)
# ---------------------------------------------------------------------

def page_media_box(doc: "PdfDocument", page: dict) -> tuple[float, float, float, float]:
    """/MediaBox of a page. The attribute is inheritable (ISO
    32000-1 Table 30) and the pages() walk materializes it into the
    page dict (nearest ancestor wins), so an ancestor-defined box is
    honored here; only a document that defines NO MediaBox anywhere
    on the path falls back to the US Letter default — degraded
    geometry, never an error."""
    box = doc.resolve(page.get("/MediaBox"))
    if isinstance(box, list) and len(box) == 4:
        try:
            x0, y0, x1, y1 = (float(doc.resolve(v)) for v in box)
            if x1 > x0 and y1 > y0:
                return (x0, y0, x1, y1)
        except (TypeError, ValueError):
            pass
    return (0.0, 0.0, 612.0, 792.0)


def page_rotation(doc: "PdfDocument", page: dict) -> int:
    """Normalized /Rotate of a page (inheritable, ISO 32000-1 Table
    30; materialized by the pages() walk): degrees the page is shown
    rotated CLOCKWISE, one of {0, 90, 180, 270}. Non-multiples of 90
    and unresolvable values degrade to 0 (no rotation), never an
    error."""
    try:
        val = doc.resolve(page.get("/Rotate")) or 0
        rot = int(val)
        if rot != val:  # 90.5 is NOT a multiple of 90 — degrade, not truncate
            return 0
    except (TypeError, ValueError):
        return 0
    rot %= 360
    return rot if rot in (90, 180, 270) else 0


def rotate_point(
    u: float, v: float, rotate: int, w: float, h: float
) -> tuple[float, float]:
    """Map a MediaBox-origin point into the DISPLAYED page frame
    under /Rotate (clockwise display rotation). The displayed page
    box is (h, w) for 90/270, (w, h) otherwise; coordinates stay
    anchored at the displayed page's lower-left corner."""
    if rotate == 90:
        return (v, w - u)
    if rotate == 180:
        return (w - u, h - v)
    if rotate == 270:
        return (h - v, u)
    return (u, v)


def _rotate_runs(
    runs: list[dict],
    rotate: int,
    media_box: tuple[float, float, float, float] | None,
) -> list[dict]:
    """Map text runs (in place) into the DISPLAYED page frame per the
    page's /Rotate attribute, BEFORE the dominant-orientation vote:
    a page whose content is rotated in user space but displayed
    upright via /Rotate (the scanner convention) then reads exactly
    like an upright page, and word boxes anchor to the displayed
    page box. Direction vectors rotate with the frame so the vote
    sees DISPLAYED text directions. rotate=0 with a media_box still
    normalizes to the box origin (one consistent anchor across
    rotated and unrotated pages of a document); rotate=0 WITHOUT a
    media_box (direct content_* calls) is a strict no-op, keeping
    raw device coordinates and vote behavior unchanged."""
    if not runs:
        return runs
    if rotate not in (90, 180, 270):
        if media_box and (media_box[0] or media_box[1]):
            dx, dy = media_box[0], media_box[1]
            for r in runs:
                r["x"] -= dx
                r["x_end"] -= dx
                r["y"] -= dy
        return runs
    x0, y0, x1, y1 = media_box or (0.0, 0.0, 612.0, 792.0)
    w, h = x1 - x0, y1 - y0
    for r in runs:
        u, v = r["x"] - x0, r["y"] - y0
        length = r["x_end"] - r["x"]
        ux, uy = r["ux"], r["uy"]
        r["x"], r["y"] = rotate_point(u, v, rotate, w, h)
        if rotate == 90:
            r["ux"], r["uy"] = uy, -ux
        elif rotate == 180:
            r["ux"], r["uy"] = -ux, -uy
        else:
            r["ux"], r["uy"] = -uy, ux
        r["x_end"] = r["x"] + length
    return runs


def _luma(ops: list[float]) -> int:
    """Gray level (0-255) from a g / rg / k color operand list."""
    try:
        if len(ops) == 1:  # g: gray
            v = float(ops[0])
        elif len(ops) == 3:  # rg: BT.601 luma
            r, g, b = (float(v) for v in ops)
            v = 0.299 * r + 0.587 * g + 0.114 * b
        elif len(ops) == 4:  # k: CMYK -> gray
            c, m, y, k = (float(v) for v in ops)
            v = (1.0 - min(1.0, k)) * (1.0 - min(1.0, (c + m + y) / 3.0))
        else:
            return 0
    except (TypeError, ValueError):
        return 0
    return max(0, min(255, round(v * 255)))


#: Fixed Bézier flattening depth: each c/v/y curve becomes this many
#: chords (deterministic — no adaptive subdivision, so the same
#: stream always renders the same pixels).
_BEZIER_CHORDS = 16


def _clip_seg(
    x0: float, y0: float, x1: float, y1: float, clip: tuple
) -> tuple | None:
    """Liang–Barsky segment/rect clip in device space; None when the
    segment lies entirely outside."""
    cx0, cy0, cx1, cy1 = clip
    dx, dy = x1 - x0, y1 - y0
    t0, t1 = 0.0, 1.0
    for p, q in (
        (-dx, x0 - cx0), (dx, cx1 - x0),
        (-dy, y0 - cy0), (dy, cy1 - y0),
    ):
        if p == 0:
            if q < 0:
                return None
            continue
        r = q / p
        if p < 0:
            if r > t1:
                return None
            t0 = max(t0, r)
        else:
            if r < t0:
                return None
            t1 = min(t1, r)
    return (x0 + t0 * dx, y0 + t0 * dy, x0 + t1 * dx, y0 + t1 * dy)


def _clip_poly(pts: list[tuple], clip: tuple) -> list[tuple]:
    """Sutherland–Hodgman polygon clip against an axis-aligned
    device rect; [] when fully outside."""
    cx0, cy0, cx1, cy1 = clip

    def half(pts, inside, cross):
        out = []
        for a, b in zip(pts, pts[1:] + pts[:1]):
            ia, ib = inside(a), inside(b)
            if ia:
                out.append(a)
            if ia != ib:
                out.append(cross(a, b))
        return out

    def x_cross(bound):
        def f(a, b):
            t = (bound - a[0]) / (b[0] - a[0])
            return (bound, a[1] + t * (b[1] - a[1]))
        return f

    def y_cross(bound):
        def f(a, b):
            t = (bound - a[1]) / (b[1] - a[1])
            return (a[0] + t * (b[0] - a[0]), bound)
        return f

    for inside, cross in (
        (lambda p: p[0] >= cx0, x_cross(cx0)),
        (lambda p: p[0] <= cx1, x_cross(cx1)),
        (lambda p: p[1] >= cy0, y_cross(cy0)),
        (lambda p: p[1] <= cy1, y_cross(cy1)),
    ):
        pts = half(pts, inside, cross)
        if not pts:
            return []
    return pts


#: Per-polygon vertex budget for composite fills: a crafted content
#: stream cannot force unbounded scanline work (beyond it the subpath
#: strokes but declines to fill — deterministic degraded fidelity).
_MAX_POLY_VERTICES = 4096


def _dash_runs(length: float, pattern: list[float],
               offset: float) -> tuple[list[tuple], float]:
    """ON runs of a dashed stroke over a segment of ``length``,
    given the dash ``pattern`` and the distance ``offset`` already
    consumed since the dash origin (ISO 32000-1 8.4.3.6: element 0
    is ON; odd-length arrays alternate across cycles). Returns
    ([(d0, d1), ...] distances along the segment, new offset)."""
    if len(pattern) % 2:
        # an odd array's true period is TWO passes (elements alternate
        # on/off across cycles); doubling makes the modulo fold below
        # parity-safe ([6] at offset 6 must start OFF, not ON)
        pattern = pattern * 2
    cyc = sum(pattern)
    off = offset % cyc
    k = 0  # pattern elements fully consumed (parity = on/off)
    while off >= pattern[k % len(pattern)] and off > 0:
        off -= pattern[k % len(pattern)]
        k += 1
    rem = pattern[k % len(pattern)] - off
    pos = 0.0
    runs: list[tuple] = []
    while pos < length:
        end = min(length, pos + rem)
        if k % 2 == 0 and end > pos:
            runs.append((pos, end))
        pos = end
        k += 1
        rem = pattern[k % len(pattern)]
    return runs, offset + length


def content_draw_ops(content: bytes, ext_gstates: dict | None = None) -> dict:
    """Geometry the page paints besides text (composite render
    inputs): rectangle FILLS, stroked LINE segments — including
    Bézier curves (``c``/``v``/``y``) flattened to deterministic
    16-chord polylines — and image XObject PLACEMENTS, all in device
    space via the full q/Q/cm CTM stack. Rectangular clipping
    (``W``/``W*``) is honored per ISO 32000-1 §8.5.4: a single-rect
    clip path under an axis-preserving CTM intersects the active
    clip (saved/restored by q/Q); fills clip by rect intersection,
    strokes by Liang–Barsky. Non-rect subpaths (polylines and
    flattened curves) FILL as device-space polygons under the
    EVEN-ODD scanline rule — ``f`` (nonzero) is approximated by
    even-odd, which agrees except on self-overlapping paths. Line
    width (``w``, CTM-scaled) strokes wider than 1.5 device units as
    perpendicular-offset quad polygons (butt caps, no joins — the
    PDF default cap). Dash patterns (``d``, ISO 32000-1 8.4.3.6)
    split strokes into ON runs: the phase restarts per subpath and
    continues across chained segments (rects and flattened curves
    dash around corners); pattern lengths scale with the CTM like
    line width; degenerate or sub-pixel patterns (any element under
    0.5 device units — below raster resolution, also the run-count
    DoS bound) stroke solid. The ``gs`` operator applies /LW, /D,
    /ca//CA and /BM from ``ext_gstates`` (see
    :meth:`PdfDocument.page_ext_gstates`; /Font feeds the TEXT
    interpreters; separable blend modes ride the journal in
    ``blends`` and the active /SMask gs name in ``softmasks``, both
    applied per pixel in raster.compose_page).
    Colors, width, dash, CTM and clip all save/restore with q/Q per
    the spec's graphics state.
    NON-RECT / MULTI-RECT / ROTATED-CTM CLIP PATHS are honored
    (round-8): the path becomes a device-space polygon STENCIL group
    (the rect clip shrinks to its bbox for the cheap paths), chains
    of clips AND together, and every emitted item — fills, polys,
    lines, image placements, shadings, pattern fills — carries the
    active chain in ``stencils`` for exact per-pixel gating in
    :func:`raster.compose_page`. ``W`` (nonzero) rides the fill
    surface's documented even-odd approximation, diverging only on
    self-overlapping clip paths.
    DECLINED BY NAME (not drawn / not clipped, render stays
    deterministic): polygons past the vertex budget, clip paths past
    the stencil budgets (64 polygons / 4x vertex budget per group, 8
    chained groups — the clip is left unchanged rather than
    under-clipped), self-overlap nonzero/even-odd divergence.
    Non-rect pattern-fill REGIONS (round-9) paint through the
    stencil machinery: the region polygon joins the item's stencil
    chain and the pattern patch rasterizes over its bbox. ``sh``
    shading paints are CAPTURED (name, ctm, device clip) for the
    codec to resolve against the page's /Shading resources and
    rasterize (axial under any invertible CTM, radial under
    similarity CTMs — codecs._axial_patch/_radial_patch). Returns
    ``{"fills": [(x0,y0,x1,y1,gray)], "polys": [(points, gray)],
    "lines": [(x0,y0,x1,y1,gray)], "images": [(name, ctm)],
    "shadings": [(name, ctm, clip|None)],
    "pattern_fills": [(name, device_rect)],
    "order": [(category, index)]}`` — ``order`` journals every
    emitted item in content-stream sequence so the compositor can
    paint true PDF z-order."""
    ctm = _ID6
    # graphics-state stack entries:
    # (ctm, clip, fill_g, stroke_g, lw, dash)
    ctm_stack: list[tuple] = []
    clip: tuple | None = None  # device-space (x0, y0, x1, y1)
    # non-rect clip STENCIL chain (round-8): a tuple of polygon
    # GROUPS in device space; the true clip region is the rect
    # ``clip`` ∩ (for every group: the even-odd union of its
    # polygons). Emitted items carry the active chain so the
    # compositor can gate their pixels exactly.
    clip_stencils: tuple = ()
    stencils_out: dict = {}  # (category, index) -> stencil chain
    pending_clip = False
    fill_g = stroke_g = 0  # PDF initial color is black
    line_w = 1.0
    dash: tuple | None = None  # (pattern user units, phase) | solid
    fill_pattern: str | None = None  # /Pattern cs + scn name active
    fill_pattern_g = 0  # scn's numeric operands (uncolored tiling)
    stroke_pattern: str | None = None  # /Pattern CS + SCN (round-9)
    stroke_pattern_g = 0
    fill_alpha = stroke_alpha = 1.0  # ExtGState /ca and /CA
    blend: str | None = None  # ExtGState /BM separable mode (round-9)
    soft_mask: str | None = None  # active ExtGState NAME with /SMask
    # current path: rect fills + polyline segments + ordered
    # subpaths (for polygon fills), in USER space
    rects: list[tuple] = []
    segs: list[tuple] = []
    subpaths: list[list] = []
    cur_pt: tuple | None = None
    start_pt: tuple | None = None
    fills: list[tuple] = []
    polys: list[tuple] = []
    lines: list[tuple] = []
    images: list[tuple] = []
    shadings: list[tuple] = []
    pattern_fills: list[tuple] = []  # (pattern name, device rect)
    order: list[tuple] = []  # (category, index) in stream paint order
    alphas: dict = {}  # (category, index) -> constant alpha < 1.0
    blends: dict = {}  # (category, index) -> separable blend mode
    softmasks: dict = {}  # (category, index) -> ExtGState name

    def pt(x: float, y: float) -> tuple:
        a, b, c, d, e, f = ctm
        return (a * x + c * y + e, b * x + d * y + f)

    def _emit(kind: str, lst: list, item, alpha: float = 1.0,
              region: tuple | None = None) -> None:
        """Append an item + its order entry, carrying the active
        constant alpha, blend mode and non-rect clip stencil chain.
        ``region`` (round-9): an extra device-space polygon GROUP
        appended to the chain — the non-rect REGION of a pattern
        fill, gating the pattern patch exactly like a clip."""
        lst.append(item)
        key = (kind, len(lst) - 1)
        order.append(key)
        if alpha < 1.0:
            alphas[key] = alpha
        if blend is not None:
            blends[key] = blend
        if soft_mask is not None:
            softmasks[key] = soft_mask
        chain = clip_stencils if region is None \
            else clip_stencils + (region,)
        if chain:
            stencils_out[key] = chain

    def dev_rect(x: float, y: float, w: float, h: float):
        """User rect -> clipped device bbox, or None when fully
        clipped away. (The pending_clip block keeps its own variant:
        it MUTATES the clip and must preserve empty intersections.)"""
        p0, p1 = pt(x, y), pt(x + w, y + h)
        r = (min(p0[0], p1[0]), min(p0[1], p1[1]),
             max(p0[0], p1[0]), max(p0[1], p1[1]))
        if clip is not None:
            r = (max(r[0], clip[0]), max(r[1], clip[1]),
                 min(r[2], clip[2]), min(r[3], clip[3]))
            if r[0] >= r[2] or r[1] >= r[3]:
                return None
        return r

    def flatten(p0: tuple, p1: tuple, p2: tuple, p3: tuple) -> None:
        """Cubic Bézier -> _BEZIER_CHORDS user-space chords."""
        prev = p0
        for i in range(1, _BEZIER_CHORDS + 1):
            t = i / _BEZIER_CHORDS
            u = 1.0 - t
            x = (u * u * u * p0[0] + 3 * u * u * t * p1[0]
                 + 3 * u * t * t * p2[0] + t * t * t * p3[0])
            y = (u * u * u * p0[1] + 3 * u * u * t * p1[1]
                 + 3 * u * t * t * p2[1] + t * t * t * p3[1])
            segs.append((prev, (x, y)))
            if subpaths:
                subpaths[-1].append((x, y))
            prev = (x, y)

    def paint(fill: bool, stroke: bool) -> None:
        nonlocal rects, segs, subpaths, cur_pt, start_pt
        nonlocal clip, clip_stencils, pending_clip
        if fill and fill_pattern is not None:
            # pattern fill (/Pattern cs + scn name): the filled
            # region becomes the pattern's clip — the codec
            # rasterizes the pattern inside it (a non-rect CLIP
            # gates it further via the stencil). NON-RECT regions
            # (round-9): the subpath rides the stencil machinery —
            # the pattern patch rasterizes over the region's device
            # BBOX and the polygon gates it per pixel.
            for x, y, w, h in rects:
                r = dev_rect(x, y, w, h)
                if r is None:
                    continue
                _emit("pattern_fills", pattern_fills,
                      (fill_pattern, r, fill_pattern_g))
            for sp in subpaths:
                if not 3 <= len(sp) <= _MAX_POLY_VERTICES:
                    continue
                pts = [pt(px_, py_) for px_, py_ in sp]
                if clip is not None:
                    pts = _clip_poly(pts, clip)
                if len(pts) < 3:
                    continue
                xs_ = [v[0] for v in pts]
                ys_ = [v[1] for v in pts]
                r = (min(xs_), min(ys_), max(xs_), max(ys_))
                _emit("pattern_fills", pattern_fills,
                      (fill_pattern, r, fill_pattern_g),
                      region=(tuple(pts),))
        elif fill:
            # non-rect subpaths fill as polygons (even-odd scanline
            # in raster.compose_page); PDF fill implicitly closes
            for sp in subpaths:
                if not 3 <= len(sp) <= _MAX_POLY_VERTICES:
                    continue
                pts = [pt(px_, py_) for px_, py_ in sp]
                if clip is not None:
                    pts = _clip_poly(pts, clip)
                if len(pts) >= 3:
                    _emit("polys", polys, (pts, fill_g), fill_alpha)
            for x, y, w, h in rects:
                r = dev_rect(x, y, w, h)
                if r is None:
                    continue
                _emit("fills", fills, (*r, fill_g), fill_alpha)
        if stroke:
            all_segs = list(segs)
            for x, y, w, h in rects:
                all_segs += [((x, y), (x + w, y)),
                             ((x + w, y), (x + w, y + h)),
                             ((x + w, y + h), (x, y + h)),
                             ((x, y + h), (x, y))]
            a_, b_, c_, d_, _, _ = ctm
            scale = abs(a_ * d_ - b_ * c_) ** 0.5
            dev_w = line_w * scale
            # dash pattern in device units; degenerate or SUB-PIXEL
            # periods (any element < 0.5 device units — below raster
            # resolution, and the run-count DoS bound) stroke solid
            pat = None
            run_off = 0.0
            if dash is not None and scale > 0:
                pat = [v * scale for v in dash[0]]
                if min(pat) < 0.5:
                    pat = None
                else:
                    run_off = dash[1] * scale
            prev_end: tuple | None = None

            def emit(p0: tuple, p1: tuple) -> None:
                # a PATTERN stroke always takes the quad path: thin
                # strokes widen to one device unit so the pattern
                # has a region to fill (round-9 — the sub-pixel
                # decline reduced to the raster's own 1-px floor)
                if dev_w > 1.5 or stroke_pattern is not None:
                    # thick stroke: perpendicular-offset quad (butt
                    # caps), filled as a polygon so clip applies too
                    vx, vy = p1[0] - p0[0], p1[1] - p0[1]
                    n = (vx * vx + vy * vy) ** 0.5
                    if n > 0:
                        w_eff = dev_w if dev_w > 1.0 else 1.0
                        ox = -vy / n * w_eff / 2
                        oy = vx / n * w_eff / 2
                        quad = [
                            (p0[0] + ox, p0[1] + oy),
                            (p1[0] + ox, p1[1] + oy),
                            (p1[0] - ox, p1[1] - oy),
                            (p0[0] - ox, p0[1] - oy),
                        ]
                        if clip is not None:
                            quad = _clip_poly(quad, clip)
                        if len(quad) >= 3:
                            if stroke_pattern is not None:
                                # STROKE pattern (round-9): the quad
                                # region pattern-fills exactly like a
                                # non-rect fill region
                                xs_ = [v[0] for v in quad]
                                ys2 = [v[1] for v in quad]
                                _emit(
                                    "pattern_fills", pattern_fills,
                                    (stroke_pattern,
                                     (min(xs_), min(ys2),
                                      max(xs_), max(ys2)),
                                     stroke_pattern_g),
                                    region=(tuple(quad),))
                            else:
                                _emit("polys", polys,
                                      (quad, stroke_g), stroke_alpha)
                    return
                seg = (p0[0], p0[1], p1[0], p1[1])
                if clip is not None:
                    seg = _clip_seg(*seg, clip)
                    if seg is None:
                        return
                _emit("lines", lines, (*seg, stroke_g), stroke_alpha)

            for (x0, y0), (x1, y1) in all_segs:
                p0, p1 = pt(x0, y0), pt(x1, y1)
                if pat is None:
                    emit(p0, p1)
                    continue
                # dash phase restarts per subpath (ISO 32000-1
                # 8.4.3.6); chained segments (shared endpoints)
                # continue the phase
                if prev_end != (x0, y0):
                    run_off = dash[1] * scale
                prev_end = (x1, y1)
                vx, vy = p1[0] - p0[0], p1[1] - p0[1]
                seglen = (vx * vx + vy * vy) ** 0.5
                if seglen <= 0:
                    continue
                if seglen > 1e6:
                    emit(p0, p1)  # over-budget length: solid
                    continue
                runs, run_off = _dash_runs(seglen, pat, run_off)
                for d0, d1 in runs:
                    emit(
                        (p0[0] + vx * d0 / seglen, p0[1] + vy * d0 / seglen),
                        (p0[0] + vx * d1 / seglen, p0[1] + vy * d1 / seglen),
                    )
        if pending_clip:
            # §8.5.4: the clip updates AFTER the path paints. A
            # single-rect path whose CTM maps rects to axis-aligned
            # rects stays the fast rect clip; ANY OTHER path
            # (polygons, multiple rects, rotated CTMs — round-8)
            # becomes a device-space polygon STENCIL group: the clip
            # rect shrinks to the path's bbox (conservative, keeps
            # Liang-Barsky/rect paths working) and emitted items
            # carry the stencil chain for exact per-pixel gating.
            # The nonzero/even-odd distinction (W vs W*) follows the
            # fill surface's documented even-odd approximation.
            # Paths past the vertex/group budgets leave the clip
            # unchanged (the old decline) rather than under-clip.
            a, b, c, d, _, _ = ctm
            axis_aligned = (b == 0 and c == 0) or (a == 0 and d == 0)
            if len(rects) == 1 and not segs and axis_aligned:
                x, y, w, h = rects[0]
                p0, p1 = pt(x, y), pt(x + w, y + h)
                new = (min(p0[0], p1[0]), min(p0[1], p1[1]),
                       max(p0[0], p1[0]), max(p0[1], p1[1]))
                clip = new if clip is None else (
                    max(clip[0], new[0]), max(clip[1], new[1]),
                    min(clip[2], new[2]), min(clip[3], new[3]),
                )
            elif rects or subpaths:
                group: list = []
                for x, y, w, h in rects:
                    group.append([pt(x, y), pt(x + w, y),
                                  pt(x + w, y + h), pt(x, y + h)])
                for sp in subpaths:
                    if 3 <= len(sp) <= _MAX_POLY_VERTICES:
                        group.append([pt(px_, py_) for px_, py_ in sp])
                total = sum(len(p) for p in group)
                if group and len(group) <= 64 \
                        and total <= 4 * _MAX_POLY_VERTICES \
                        and len(clip_stencils) < 8:
                    xs = [v[0] for p in group for v in p]
                    ys_ = [v[1] for p in group for v in p]
                    new = (min(xs), min(ys_), max(xs), max(ys_))
                    clip = new if clip is None else (
                        max(clip[0], new[0]), max(clip[1], new[1]),
                        min(clip[2], new[2]), min(clip[3], new[3]),
                    )
                    clip_stencils = clip_stencils + (
                        tuple(tuple(p) for p in group),
                    )
            pending_clip = False
        rects, segs, subpaths = [], [], []
        cur_pt, start_pt = None, None

    for op, stack in _iter_content_ops(content):
        try:
            if op == b"q":
                ctm_stack.append(
                    (ctm, clip, clip_stencils, fill_g, stroke_g,
                     line_w, dash, fill_pattern, fill_pattern_g,
                     stroke_pattern, stroke_pattern_g,
                     fill_alpha, stroke_alpha, blend, soft_mask))
            elif op == b"Q":
                if ctm_stack:
                    (ctm, clip, clip_stencils, fill_g, stroke_g,
                     line_w, dash, fill_pattern, fill_pattern_g,
                     stroke_pattern, stroke_pattern_g,
                     fill_alpha, stroke_alpha, blend,
                     soft_mask) = ctm_stack.pop()
            elif op == b"cm" and len(stack) >= 6:
                ctm = _mat_mul(tuple(float(v) for v in stack[-6:]), ctm)
            elif op == b"w" and stack:
                line_w = max(0.0, float(stack[-1]))
            elif op == b"gs" and stack and isinstance(stack[-1], str) \
                    and ext_gstates:
                # ExtGState (ISO 32000-1 8.4.5): honor /LW and /D —
                # see PdfDocument.page_ext_gstates for the declines
                g = ext_gstates.get(stack[-1])
                if g:
                    if "LW" in g:
                        line_w = g["LW"]
                    if "D" in g:
                        dash = g["D"]
                    if "ca" in g:
                        fill_alpha = g["ca"]
                    if "CA" in g:
                        stroke_alpha = g["CA"]
                    if "BM" in g:
                        blend = g["BM"]
                    if "SMask" in g:
                        # value None = the /None reset; a tuple =
                        # a luminosity group -> remember WHICH gs
                        # name so the codec can rasterize its form
                        soft_mask = stack[-1] \
                            if g["SMask"] is not None else None
            elif op == b"d" and len(stack) >= 2 \
                    and isinstance(stack[-2], list):
                arr = [float(v) for v in stack[-2]]
                if arr and all(v >= 0 for v in arr) and sum(arr) > 0:
                    dash = (arr, max(0.0, float(stack[-1])))
                else:
                    dash = None  # [] phase d -> solid (the spec default)
            elif op == b"g" and stack:
                fill_g = _luma(stack[-1:])
                fill_pattern = None  # colorspace left /Pattern
            elif op == b"G" and stack:
                stroke_g = _luma(stack[-1:])
                stroke_pattern = None
            elif op == b"rg" and len(stack) >= 3:
                fill_g = _luma(stack[-3:])
                fill_pattern = None
            elif op == b"RG" and len(stack) >= 3:
                stroke_g = _luma(stack[-3:])
                stroke_pattern = None
            elif op == b"k" and len(stack) >= 4:
                fill_g = _luma(stack[-4:])
                fill_pattern = None
            elif op == b"K" and len(stack) >= 4:
                stroke_g = _luma(stack[-4:])
                stroke_pattern = None
            elif op == b"cs" and stack:
                # entering a non-/Pattern fill colorspace drops any
                # active pattern; /Pattern arms scn name selection
                if stack[-1] != "/Pattern":
                    fill_pattern = None
            elif op == b"CS" and stack:
                if stack[-1] != "/Pattern":
                    stroke_pattern = None
            elif op == b"scn" and stack and isinstance(stack[-1], str):
                # numeric operands before the name carry the COLOR
                # an UNCOLORED (PaintType 2) tiling pattern paints in
                fill_pattern = stack[-1]
                nums = [v for v in stack[:-1]
                        if isinstance(v, (int, float))]
                # only g/rg/k arities carry a color; any other
                # operand count is malformed — keep the prior color
                # rather than silently painting black (round-9
                # advice fix)
                if len(nums) in (1, 3, 4):
                    fill_pattern_g = _luma(nums[-4:])
            elif op == b"SCN" and stack and isinstance(stack[-1], str):
                # STROKE pattern (round-9): strokes paint their quad
                # region with the pattern via the region-stencil
                # path (thin strokes widen to the 1-px raster floor)
                stroke_pattern = stack[-1]
                nums = [v for v in stack[:-1]
                        if isinstance(v, (int, float))]
                if len(nums) in (1, 3, 4):
                    stroke_pattern_g = _luma(nums[-4:])
            elif op == b"re" and len(stack) >= 4:
                x, y, w, h = (float(v) for v in stack[-4:])
                rects.append((x, y, w, h))
            elif op == b"m" and len(stack) >= 2:
                cur_pt = (float(stack[-2]), float(stack[-1]))
                start_pt = cur_pt
                subpaths.append([cur_pt])
            elif op == b"l" and len(stack) >= 2:
                p = (float(stack[-2]), float(stack[-1]))
                if cur_pt is not None:
                    segs.append((cur_pt, p))
                if subpaths:
                    subpaths[-1].append(p)
                cur_pt = p
            elif op == b"c" and len(stack) >= 6 and cur_pt is not None:
                c1 = (float(stack[-6]), float(stack[-5]))
                c2 = (float(stack[-4]), float(stack[-3]))
                p3 = (float(stack[-2]), float(stack[-1]))
                flatten(cur_pt, c1, c2, p3)
                cur_pt = p3
            elif op == b"v" and len(stack) >= 4 and cur_pt is not None:
                # first control point = current point (ISO 32000-1
                # Table 58)
                c2 = (float(stack[-4]), float(stack[-3]))
                p3 = (float(stack[-2]), float(stack[-1]))
                flatten(cur_pt, cur_pt, c2, p3)
                cur_pt = p3
            elif op == b"y" and len(stack) >= 4 and cur_pt is not None:
                # second control point = endpoint
                c1 = (float(stack[-4]), float(stack[-3]))
                p3 = (float(stack[-2]), float(stack[-1]))
                flatten(cur_pt, c1, p3, p3)
                cur_pt = p3
            elif op in (b"W", b"W*"):
                pending_clip = True
            elif op == b"h":
                if cur_pt is not None and start_pt is not None:
                    segs.append((cur_pt, start_pt))
                    if subpaths:
                        subpaths[-1].append(start_pt)
                    cur_pt = start_pt
            elif op in (b"f", b"F", b"f*"):
                paint(True, False)
            elif op in (b"S",):
                paint(False, True)
            elif op == b"s":
                if cur_pt is not None and start_pt is not None:
                    segs.append((cur_pt, start_pt))
                paint(False, True)
            elif op in (b"b", b"b*"):
                if cur_pt is not None and start_pt is not None:
                    segs.append((cur_pt, start_pt))
                paint(True, True)
            elif op in (b"B", b"B*"):
                paint(True, True)
            elif op == b"n":
                paint(False, False)
            elif op == b"Do" and stack and isinstance(stack[-1], str):
                _emit("images", images, (stack[-1], ctm), fill_alpha)
            elif op == b"sh" and stack and isinstance(stack[-1], str):
                # sh paints the CURRENT CLIP region with the shading
                _emit("shadings", shadings, (stack[-1], ctm, clip),
                      fill_alpha)
        except (TypeError, ValueError):
            continue
    return {"fills": fills, "polys": polys, "lines": lines,
            "pattern_fills": pattern_fills, "order": order,
            "alphas": alphas, "blends": blends,
            "softmasks": softmasks, "stencils": stencils_out,
            "images": images, "shadings": shadings}


def extract_page_texts(data: bytes, layout: bool = False) -> list[str]:
    """All page texts of a PDF, in page order (the pdftotext-shaped
    primitive: one string per page), ToUnicode-aware. ``layout=True``
    orders text by position (reading order) instead of stream order —
    see :func:`content_text_layout`."""
    doc = PdfDocument(data)
    if layout:
        return [runs_layout_text(page_runs(doc, p)) for p in doc.pages()]
    return [content_text(**_page_text_inputs(doc, p)[0]) for p in doc.pages()]


def extract_page_images(
    data: bytes, password: bytes = b"", decode_pixels: bool = False
) -> list[list[dict]]:
    """Embedded images per page, in page order (pdfimages-shaped
    primitive — see :meth:`PdfDocument.page_images`)."""
    doc = PdfDocument(data, password=password)
    return [doc.page_images(p, decode_pixels) for p in doc.pages()]


def doc_info(data: bytes) -> dict[str, str]:
    """Document information dictionary (Title/Author/...) of a PDF;
    empty when the file has no /Info."""
    return PdfDocument(data).info()


# ---------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------


def _escape_pdf_string(s: str) -> bytes:
    raw = s.encode("latin-1", errors="replace")
    return (
        raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    )


def build_pdf(
    pages: list[str],
    compress: bool = False,
    info: dict[str, str] | None = None,
    encrypt: str | None = None,
    encrypt_rev: int = 3,
    images: list[dict] | None = None,
    extra_content: bytes | None = None,
) -> bytes:
    """Minimal spec-valid PDF: one Helvetica font, one content stream
    per page (one ``Tj`` per text line, ``Td`` line advances), real
    xref table + trailer (carrying ``/Info`` when ``info`` given).
    ``compress=True`` FlateDecodes the content streams (exercises the
    decode path). ``encrypt`` (a user password; ``""`` = the common
    owner-locked-but-readable case) applies the Standard security
    handler — ``encrypt_rev`` picks 3 (128-bit RC4), 4 (AES-128
    crypt filter /AESV2) or 6 (AES-256 /AESV3 with /UE //OE //Perms)
    — streams and strings are really encrypted with proper
    /O //U //ID values, so decryption round-trips exercise the exact
    spec algorithms. Inverse of :func:`extract_page_texts` for
    Latin-1 text.

    ``images`` embeds image XObjects on PAGE 1's resources (inverse of
    :func:`extract_page_images`): each dict needs ``data`` (the
    already-encoded payload — a JFIF for /DCTDecode, zlib bytes for
    /FlateDecode, a G4 stream for /CCITTFaxDecode, raw samples for no
    filter), ``width``, ``height``, and optionally ``filter`` (e.g.
    ``"/DCTDecode"``), ``colorspace`` (default /DeviceGray), ``bits``
    (default 8) and ``decode_parms`` (a dict written as the XObject's
    /DecodeParms, e.g. ``{"/K": -1, "/Columns": w, "/Rows": h}``).

    ``extra_content`` appends raw operators to PAGE 1's content
    stream (after the text block) — how fixtures place images
    (``cm`` + ``/Im0 Do``) and paint fills/strokes for the composite
    render path."""
    if not pages:
        raise ValueError("build_pdf needs at least one page")
    if encrypt_rev not in (3, 4, 6):
        raise ValueError("encrypt_rev must be 3 (RC4), 4 (AESV2) or 6 (AESV3)")
    enc_key = None
    if encrypt is not None:
        import hashlib

        from pdf2dataset_spark.sources import _aes, pdfcrypt

        user_pwd = encrypt.encode("latin-1", errors="replace")
        id0 = hashlib.md5(
            ("\n".join(pages) + repr(sorted((info or {}).items()))).encode(
                "utf-8", "replace"
            )
        ).digest()
        p_val = -44
        if encrypt_rev in (3, 4):
            o_val = pdfcrypt.compute_o(
                user_pwd + b"-owner", user_pwd, encrypt_rev, 16
            )
            enc_key = pdfcrypt.file_key(
                user_pwd, o_val, p_val, id0, encrypt_rev, 16
            )
            u_val = pdfcrypt.compute_u(enc_key, id0, encrypt_rev)
        else:  # R6: random-free deterministic 256-bit file key
            enc_key = hashlib.sha256(b"filekey" + id0).digest()
            u_val, ue_val = pdfcrypt.v5_make_user_entries(user_pwd, enc_key, 6)
            o_val, oe_val = pdfcrypt.v5_make_owner_entries(
                user_pwd + b"-owner", enc_key, u_val, 6
            )
            import struct

            perms_blk = (
                struct.pack("<i", p_val) + b"\xff\xff\xff\xffTadb" + b"seed"
            )
            perms_val = _aes.encrypt_block(enc_key, perms_blk)

        def obj_enc(num: int, payload: bytes) -> bytes:
            if encrypt_rev == 3:
                return pdfcrypt.rc4(
                    pdfcrypt.object_key(enc_key, num, 0), payload
                )
            if encrypt_rev == 4:
                okey = pdfcrypt.object_key(enc_key, num, 0, aes=True)
            else:
                okey = enc_key
            iv = hashlib.md5(b"iv%d" % num + payload).digest()
            return _aes.cbc_encrypt(okey, iv, payload)

    objs: list[bytes] = []  # bodies; object number = index+1

    n_pages = len(pages)
    font_num = 3 + 2 * n_pages
    images = images or []
    image_nums = [font_num + 1 + i for i in range(len(images))]
    # images may carry a shared-stream payload (``"globals"`` bytes →
    # a /JBIG2Globals stream object referenced from /DecodeParms)
    glob_nums: dict[int, int] = {}
    _next = font_num + len(images) + 1
    for _j, _img in enumerate(images):
        if _img.get("globals") is not None:
            glob_nums[_j] = _next
            _next += 1
    # images may carry an ``"smask"`` dict ({width, height, data,
    # filter?, bits?}) → a /DeviceGray soft-mask image object
    # referenced from the base image's /SMask (ISO 32000-1 §11.6.5)
    smask_nums: dict[int, int] = {}
    for _j, _img in enumerate(images):
        if _img.get("smask") is not None:
            smask_nums[_j] = _next
            _next += 1
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # 1
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )  # 2
    for i, text in enumerate(pages):
        page_num = 3 + 2 * i
        content_num = page_num + 1
        xobj_clause = ""
        if i == 0 and image_nums:
            refs = " ".join(
                f"/Im{j} {num} 0 R" for j, num in enumerate(image_nums)
            )
            xobj_clause = f" /XObject << {refs} >>"
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {content_num} 0 R "
                f"/Resources << /Font << /F1 {font_num} 0 R >>"
                f"{xobj_clause} >> >>"
            ).encode()
        )
        lines = text.split("\n")
        ops = [b"BT", b"/F1 12 Tf", b"72 720 Td"]
        for j, line in enumerate(lines):
            if j > 0:
                ops.append(b"0 -14 Td")
            ops.append(b"(" + _escape_pdf_string(line) + b") Tj")
        ops.append(b"ET")
        if i == 0 and extra_content:
            ops.append(extra_content)
        payload = b"\n".join(ops)
        if compress:
            payload = zlib.compress(payload)
        if enc_key is not None:
            payload = obj_enc(content_num, payload)
        if compress:
            head = f"<< /Length {len(payload)} /Filter /FlateDecode >>"
        else:
            head = f"<< /Length {len(payload)} >>"
        objs.append(
            head.encode() + b"\nstream\n" + payload + b"\nendstream"
        )
    objs.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>"
    )  # font
    for j, img in enumerate(images or []):
        payload = img["data"]
        if enc_key is not None:
            payload = obj_enc(image_nums[j], payload)
        filt = img.get("filter")
        parms = img.get("decode_parms")  # dict, e.g. CCITT {"/K": -1, ...}
        parts = []
        if parms:
            parts.extend(
                f"{k} {str(v).lower() if isinstance(v, bool) else v}"
                for k, v in parms.items()
            )
        if j in glob_nums:
            parts.append(f"/JBIG2Globals {glob_nums[j]} 0 R")
        parms_s = f" /DecodeParms << {' '.join(parts)} >>" if parts else ""
        head = (
            f"<< /Type /XObject /Subtype /Image"
            f" /Width {img['width']} /Height {img['height']}"
            f" /ColorSpace {img.get('colorspace', '/DeviceGray')}"
            f" /BitsPerComponent {img.get('bits', 8)}"
            + (f" /Filter {filt}" if filt else "")
            + parms_s
            + (f" /SMask {smask_nums[j]} 0 R" if j in smask_nums
               else "")
            + f" /Length {len(payload)} >>"
        )
        objs.append(
            head.encode() + b"\nstream\n" + payload + b"\nendstream"
        )
    for j, _num in sorted(glob_nums.items(), key=lambda kv: kv[1]):
        payload = images[j]["globals"]
        if enc_key is not None:
            payload = obj_enc(_num, payload)
        objs.append(
            f"<< /Length {len(payload)} >>".encode()
            + b"\nstream\n" + payload + b"\nendstream"
        )
    for j, _num in sorted(smask_nums.items(), key=lambda kv: kv[1]):
        sm = images[j]["smask"]
        payload = sm["data"]
        if enc_key is not None:
            payload = obj_enc(_num, payload)
        sfilt = sm.get("filter")
        head = (
            f"<< /Type /XObject /Subtype /Image"
            f" /Width {sm['width']} /Height {sm['height']}"
            f" /ColorSpace /DeviceGray"
            f" /BitsPerComponent {sm.get('bits', 8)}"
            + (f" /Filter {sfilt}" if sfilt else "")
            + f" /Length {len(payload)} >>"
        )
        objs.append(
            head.encode() + b"\nstream\n" + payload + b"\nendstream"
        )
    info_clause = b""
    if info:
        info_num = len(objs) + 1
        if enc_key is not None:
            # encrypted strings are written as hex (no escape ambiguity)
            entries = b" ".join(
                b"/"
                + k.encode("ascii")
                + b" <"
                + obj_enc(
                    info_num, v.encode("latin-1", errors="replace")
                ).hex().encode("ascii")
                + b">"
                for k, v in info.items()
            )
        else:
            entries = b" ".join(
                b"/" + k.encode("ascii") + b" (" + _escape_pdf_string(v) + b")"
                for k, v in info.items()
            )
        objs.append(b"<< " + entries + b" >>")
        info_clause = f" /Info {len(objs)} 0 R".encode()
    enc_clause = b""
    if enc_key is not None:
        if encrypt_rev == 3:
            enc_body = (
                f"<< /Filter /Standard /V 2 /R 3 /Length 128 /P {p_val} "
                f"/O <{o_val.hex()}> /U <{u_val.hex()}> >>"
            )
        elif encrypt_rev == 4:
            enc_body = (
                f"<< /Filter /Standard /V 4 /R 4 /Length 128 /P {p_val} "
                "/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
                "/Length 16 >> >> /StmF /StdCF /StrF /StdCF "
                f"/O <{o_val.hex()}> /U <{u_val.hex()}> >>"
            )
        else:  # R6 / AESV3
            enc_body = (
                f"<< /Filter /Standard /V 5 /R 6 /Length 256 /P {p_val} "
                "/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
                "/Length 32 >> >> /StmF /StdCF /StrF /StdCF "
                f"/O <{o_val.hex()}> /U <{u_val.hex()}> "
                f"/OE <{oe_val.hex()}> /UE <{ue_val.hex()}> "
                f"/Perms <{perms_val.hex()}> >>"
            )
        objs.append(enc_body.encode())
        enc_clause = (
            f" /Encrypt {len(objs)} 0 R"
            f" /ID [<{id0.hex()}> <{id0.hex()}>]".encode()
        )

    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(buf)
    buf += f"xref\n0 {len(objs) + 1}\n".encode()
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R".encode()
        + info_clause
        + enc_clause
        + f" >>\nstartxref\n{xref_pos}\n%%EOF\n".encode()
    )
    return bytes(buf)


def append_update(data: bytes, updates: dict[int, bytes]) -> bytes:
    """Append one INCREMENTAL-UPDATE section (ISO 32000-1 §7.5.6) to
    an existing file: the updated object bodies, a new xref table
    covering exactly them, and a trailer whose /Prev points at the
    previous xref — the structure viewers write on save. The
    original bytes are untouched (that is the point of incremental
    updates); a later generation of an object number REPLACES the
    earlier one for any conforming reader, which the engine's
    last-definition-wins object scan honors. Chain calls for
    multi-generation files. Fixture twin of the A-tier
    incremental-update goldens."""
    m = None
    for m in re.finditer(rb"startxref\s+(\d+)", data):
        pass
    prev_pos = int(m.group(1)) if m else 0
    sizes = re.findall(rb"/Size\s+(\d+)", data)
    old_size = int(sizes[-1]) if sizes else 0
    rm = None
    for rm in re.finditer(rb"/Root\s+(\d+)\s+0\s+R", data):
        pass
    root = int(rm.group(1)) if rm else 1
    buf = bytearray(data)
    if not buf.endswith(b"\n"):
        buf += b"\n"
    offsets: dict[int, int] = {}
    for num in sorted(updates):
        offsets[num] = len(buf)
        buf += f"{num} 0 obj\n".encode() + updates[num] + b"\nendobj\n"
    xref_pos = len(buf)
    buf += b"xref\n"
    nums = sorted(offsets)
    i = 0
    while i < len(nums):  # one subsection per contiguous run
        j = i
        while j + 1 < len(nums) and nums[j + 1] == nums[j] + 1:
            j += 1
        buf += f"{nums[i]} {j - i + 1}\n".encode()
        for n in nums[i:j + 1]:
            buf += f"{offsets[n]:010d} 00000 n \n".encode()
        i = j + 1
    size = max(old_size, max(nums) + 1)
    buf += (
        f"trailer\n<< /Size {size} /Root {root} 0 R"
        f" /Prev {prev_pos} >>\n"
        f"startxref\n{xref_pos}\n%%EOF\n".encode()
    )
    return bytes(buf)
