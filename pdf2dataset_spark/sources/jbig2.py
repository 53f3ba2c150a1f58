"""JBIG2 (ITU-T T.88) codec — the arithmetic bi-level scan codec.

Alongside CCITT G4 (:mod:`sources.ccitt`), JBIG2 is the other codec
real scanned PDFs carry their page bitmaps in (``/JBIG2Decode``,
typically produced by scanner firmware or ``jbig2enc``-style
recompressors). This module implements the PDF-embedded organization
(ISO 32000-1 §7.4.7: a sequence of T.88 segments with no file header,
optionally preceded by a shared ``/JBIG2Globals`` stream) with zero
native deps, so JBIG2 scans flow into the embedded-image / OCR /
pHash paths exactly like JPEG and CCITT ones do:

- **MQ arithmetic coder** (T.88 Annex E): decoder AND encoder. The
  encoder exists so tests can round-trip spec-valid streams this repo
  authored (the :mod:`sources.ccitt` fixture strategy); the coder
  pair is validated against the published T.88 Annex H.2 test
  sequence (also ISO/IEC 15444-1's MQ test data).
- **Generic region decoding** (T.88 §6.2): arithmetic templates 0-3
  with AT pixel placement and TPGDON typical-prediction rows. MMR=1
  generic regions route to :func:`sources.ccitt.decode_g4` — JBIG2
  MMR *is* T.6 coding (T.88 §6.2.6).
- **Symbol dictionary + text region** (T.88 §6.5 / §6.4, arithmetic
  variant): the mode scanner encoders actually emit for text pages —
  glyph bitmaps decode once into a dictionary and each placement is
  an (id, ds, dt) triple via the Annex A adaptive integer decoders
  (IADH/IADW/IAEX/IADT/IAFS/IADS/IAIT + IAID symbol codes).
- **Generic refinement coding** (T.88 §6.3): templates 0-1 with AT
  pixels and TPGRON typical prediction — serving refined text-region
  instances (§6.4.11), refinement/aggregate symbol dictionaries
  with REFAGGNINST == 1 (§6.5.8.2, the pdf.js-scope shape), and
  standalone REFINEMENT REGION segments (types 40/42/43, §7.4.7):
  against a retained intermediate region when one is referred, else
  against the page buffer with REPLACE composition (§8.2) — the
  lossy-then-lossless progressive shape. Intermediate region
  segments (types 4/36/40) are retained for reference, never
  composited (§8.2). TRUE AGGREGATES (REFAGGNINST > 1, §6.5.8.2.2)
  decode as nested text regions over the in-progress symbol pool
  with the dictionary's shared contexts.
- **Huffman regime** (T.88 Annex B via :mod:`sources.jbig2_huffman`):
  SDHUFF symbol dictionaries with per-height-class collective
  bitmaps (uncompressed or MMR), SBHUFF text regions with
  runcode-built symbol ID codes, standard + custom (type 53) tables,
  and (round 8) the full Huffman-REFINEMENT regime: SBREFINE=1 text
  region instances (§6.4.11: raw RI bit, B.14/B.15 delta tables,
  byte-aligned embedded MQ refinement of BMSIZE bytes) AND
  SDREFAGG=1 symbol dictionaries (§6.5.8.2: per-symbol REFAGGNINST,
  raw-bit pool ID, B.15 deltas, embedded MQ refinement). Huffman
  TRUE aggregates (REFAGGNINST > 1 — a nested Huffman text region)
  still raise :class:`JBIG2Unsupported` with a named reason (kept
  honest; payload preserved).
- **Pattern dictionary + halftone regions** (T.88 §6.7 / §6.6):
  Gray-coded arithmetic/MMR grayscale bitplanes stamping dictionary
  patterns on the (skewable) 8.8 fixed-point grid — the dithered-
  image mode; HSKIP planes (§6.6.5.1) suppress coding of cells
  stamped entirely outside the region.
- **Segment parser + page assembly** (T.88 §7): header grammar
  (32-bit segment numbers, long referred-to form, 1/2/4-byte
  referent widths, 1/4-byte page associations), page info, end-of-
  stripe/page/file, region composition with the external combination
  operators, and unknown-height (0xFFFFFFFF) pages grown to fit
  their stripes.

Output convention matches :func:`sources.ccitt.decode_ccitt_gray`:
8-bit gray samples, ink black = 0 (JBIG2's 1-pixels are black).

Scale note: decode runs inside the Arrow-batched extraction UDFs;
one page is O(pixels) python-int MQ work, parallelized per document
by the mapInArrow fan-out like every other minipdf codec.
"""

from __future__ import annotations

import struct
from math import ceil, log2

import numpy as np


class JBIG2Error(ValueError):
    """Malformed JBIG2 stream."""


class JBIG2Unsupported(JBIG2Error):
    """Valid JBIG2 feature outside this decoder's scope (e.g.
    retained bitmap coding contexts; the former named declines —
    Huffman TRUE aggregates, tables B.7/B.10 — decode since
    rounds 9/10)."""


#: default decode-size sanity bound (pixels): ample for any real
#: scanned page (A3 @ 1200 dpi bilevel ~ 280M), small enough that a
#: crafted 60-byte stream cannot OOM an executor before decoding
#: starts. Callers can LOWER it per decode (``max_pixels=``) to bound
#: the CPU a crafted-but-valid header can demand — a pure-Python
#: arithmetic decoder does ~1 Mpx/s, so the default admits minutes of
#: work; corpus pipelines that care should cap tighter.
_MAX_PIXELS = 1 << 29

import contextvars as _contextvars

_MAX_PIXELS_VAR = _contextvars.ContextVar("jbig2_max_pixels",
                                          default=_MAX_PIXELS)


def _check_dims(w: int, h: int, what: str) -> None:
    bound = _MAX_PIXELS_VAR.get()
    if w < 0 or h < 0 or (w and h and w * h > bound):
        raise JBIG2Error(
            f"{what} dimensions {w}x{h} exceed the {bound}-pixel "
            "decode bound"
        )


# =====================================================================
# MQ arithmetic coder (T.88 Annex E; table E.1)
# =====================================================================

# (Qe, NMPS, NLPS, SWITCH)
_QE = (
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
)

#: flat per-column views of ``_QE`` for the decode hot paths. The
#: dominant decode branch (MPS, no renormalization) needs only Qe —
#: and because the C register is kept below 2**32 at every DECODE
#: entry (every write is either masked by the renorm shift or a
#: subtraction of a value it was just proven >= to), the spec's
#: ``Chigh < Qe`` test is exactly ``C < (Qe << 16)``; pre-shifting Qe
#: removes the per-decision shift/mask pair, and splitting the table
#: defers the NMPS/NLPS/SWITCH loads to the rare exchange branches.
_QE_Q = tuple(r[0] for r in _QE)
_QE_Q16 = tuple(r[0] << 16 for r in _QE)
_QE_NMPS = tuple(r[1] for r in _QE)
_QE_NLPS = tuple(r[2] for r in _QE)
_QE_SW = tuple(r[3] for r in _QE)


class MQDecoder:
    """T.88 E.3 decoder (software conventions: DECODE/BYTEIN/RENORMD).

    Contexts are 2-item lists ``[state_index, mps]`` mutated in place
    (the caller owns allocation — generic regions key them by the
    pixel-template context value, integer decoders by PREV)."""

    __slots__ = ("data", "bp", "c", "ct", "a")

    def __init__(self, data: bytes):
        self.data = data
        self.bp = 0
        b0 = data[0] if data else 0xFF
        self.c = b0 << 16
        self._bytein()
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000

    def _bytein(self) -> None:
        data, bp = self.data, self.bp
        b = data[bp] if bp < len(data) else 0xFF
        b1 = data[bp + 1] if bp + 1 < len(data) else 0xFF
        if b == 0xFF:
            if b1 > 0x8F:
                # marker / past end: feed 1-bits forever (E.3.4)
                self.c += 0xFF00
                self.ct = 8
            else:
                self.bp = bp + 1
                self.c += b1 << 9
                self.ct = 7
        else:
            self.bp = bp + 1
            self.c += b1 << 8
            self.ct = 8

    def decode(self, cx: list) -> int:
        i = cx[0]
        qe = _QE_Q[i]
        qe16 = _QE_Q16[i]
        self.a -= qe
        if self.c < qe16:  # == Chigh < Qe (C < 2**32 invariant)
            # LPS exchange path (E.3.2 DECODE lower branch)
            if self.a < qe:
                d = cx[1]
                cx[0] = _QE_NMPS[i]
            else:
                d = 1 - cx[1]
                if _QE_SW[i]:
                    cx[1] = d
                cx[0] = _QE_NLPS[i]
            self.a = qe
        else:
            self.c -= qe16  # stays >= 0: c >= qe16 on this branch
            if self.a & 0x8000:
                return cx[1]
            if self.a < qe:
                d = 1 - cx[1]
                if _QE_SW[i]:
                    cx[1] = d
                cx[0] = _QE_NLPS[i]
            else:
                d = cx[1]
                cx[0] = _QE_NMPS[i]
        # RENORMD
        while True:
            if self.ct == 0:
                self._bytein()
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break
        return d


class MQEncoder:
    """T.88 E.2 encoder (CODEMPS/CODELPS/BYTEOUT/FLUSH). Produces
    streams :class:`MQDecoder` reads back bit-exactly; used by the
    fixture encoders below."""

    __slots__ = ("a", "c", "ct", "out")

    def __init__(self):
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        # out[0] is the spec's BPST-1 slot: a dummy byte that absorbs
        # a first-byte carry (provably never set for a fresh coder —
        # asserted at flush) and is stripped from the result.
        self.out = bytearray(1)

    def encode(self, d: int, cx: list) -> None:
        qe, nmps, nlps, switch = _QE[cx[0]]
        if d == cx[1]:  # CODEMPS
            self.a -= qe
            if self.a & 0x8000:
                self.c += qe
                return
            if self.a < qe:
                self.a = qe
            else:
                self.c += qe
            cx[0] = nmps
        else:  # CODELPS
            self.a -= qe
            if self.a < qe:
                self.c += qe
            else:
                self.a = qe
            if switch:
                cx[1] = 1 - cx[1]
            cx[0] = nlps
        # RENORME
        while True:
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def _byteout(self) -> None:
        out = self.out
        if out[-1] == 0xFF:
            out.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
        elif self.c < 0x8000000:
            out.append((self.c >> 19) & 0xFF)
            self.c &= 0x7FFFF
            self.ct = 8
        else:
            out[-1] += 1  # propagate carry into the previous byte
            if out[-1] == 0xFF:
                self.c &= 0x7FFFFFF
                out.append((self.c >> 20) & 0xFF)
                self.c &= 0xFFFFF
                self.ct = 7
            else:
                out.append((self.c >> 19) & 0xFF)
                self.c &= 0x7FFFF
                self.ct = 8

    def flush(self) -> bytes:
        # SETBITS (E.3.8): the decoder synthesizes 1-bits past the end
        # of the stream, so the final code value must be C with its low
        # bits FILLED WITH ONES — backed off by 0x8000 when that
        # overshoots the interval top C+A.
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        if self.out[0]:
            raise AssertionError("MQ carry escaped the code stream")
        body = self.out[1:]
        # trailing 0xFF bytes are redundant (the decoder synthesizes
        # 1-bits past the end); keep them — harmless and spec-legal.
        return bytes(body)


# =====================================================================
# Adaptive integer decoding (T.88 Annex A) + symbol-ID codes (A.3)
# =====================================================================

_OOB = object()  # out-of-band return of IntCoder.decode


class IntCoderCx:
    """One IAx context bank: 512 MQ contexts addressed by PREV."""

    __slots__ = ("cx",)

    def __init__(self):
        self.cx = [[0, 0] for _ in range(512)]


def _int_decode(dec: MQDecoder, bank: IntCoderCx):
    """A.2 decoding procedure. Returns int or _OOB."""
    cx = bank.cx
    prev = 1

    def bit() -> int:
        nonlocal prev
        b = dec.decode(cx[prev])
        prev = (prev << 1) | b if prev < 256 else ((((prev << 1) | b) & 511) | 256)
        return b

    s = bit()
    if not bit():
        n, off = 2, 0
    elif not bit():
        n, off = 4, 4
    elif not bit():
        n, off = 6, 20
    elif not bit():
        n, off = 8, 84
    elif not bit():
        n, off = 12, 340
    else:
        n, off = 32, 4436
    v = 0
    for _ in range(n):
        v = (v << 1) | bit()
    v += off
    if s and v == 0:
        return _OOB
    return -v if s else v


def _int_encode(enc: MQEncoder, bank: IntCoderCx, value) -> None:
    """Inverse of :func:`_int_decode` (same PREV walk)."""
    cx = bank.cx
    prev = 1

    def bit(b: int) -> None:
        nonlocal prev
        enc.encode(b, cx[prev])
        prev = (prev << 1) | b if prev < 256 else ((((prev << 1) | b) & 511) | 256)

    if value is _OOB:
        s, v = 1, 0
    else:
        s, v = (1, -value) if value < 0 else (0, value)
    bit(s)
    if v < 4:
        bit(0)
        n, off = 2, 0
    elif v < 20:
        bit(1), bit(0)
        n, off = 4, 4
    elif v < 84:
        bit(1), bit(1), bit(0)
        n, off = 6, 20
    elif v < 340:
        bit(1), bit(1), bit(1), bit(0)
        n, off = 8, 84
    elif v < 4436:
        bit(1), bit(1), bit(1), bit(1), bit(0)
        n, off = 12, 340
    else:
        bit(1), bit(1), bit(1), bit(1), bit(1)
        n, off = 32, 4436
    rem = v - off
    for i in range(n - 1, -1, -1):
        bit((rem >> i) & 1)


def _iaid_decode(dec: MQDecoder, cx: list, codelen: int) -> int:
    """A.3 symbol-ID decoding: a `codelen`-bit tree walk."""
    prev = 1
    for _ in range(codelen):
        prev = (prev << 1) | dec.decode(cx[prev])
    return prev - (1 << codelen)


def _iaid_encode(enc: MQEncoder, cx: list, codelen: int, value: int) -> None:
    prev = 1
    for i in range(codelen - 1, -1, -1):
        b = (value >> i) & 1
        enc.encode(b, cx[prev])
        prev = (prev << 1) | b


def _iaid_cx(codelen: int) -> list:
    return [[0, 0] for _ in range(1 << (codelen + 1))]


# =====================================================================
# Generic region coding (T.88 §6.2.5)
# =====================================================================

# Fixed (non-adaptive) template pixels per GBTEMPLATE, plus the
# nominal AT positions (T.88 figures 4-7). Context bits are the
# template pixels in raster order (y, then x), MSB first — the §6.2.5.7
# convention.
_GB_FIXED = {
    0: ((-1, -2), (0, -2), (1, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1),
        (-4, 0), (-3, 0), (-2, 0), (-1, 0)),
    1: ((-1, -2), (0, -2), (1, -2), (2, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1),
        (-3, 0), (-2, 0), (-1, 0)),
    2: ((-1, -2), (0, -2), (1, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1),
        (-2, 0), (-1, 0)),
    3: ((-3, -1), (-2, -1), (-1, -1), (0, -1), (1, -1),
        (-4, 0), (-3, 0), (-2, 0), (-1, 0)),
}
NOMINAL_AT = {
    0: ((3, -1), (-3, -1), (2, -2), (-2, -2)),
    1: ((3, -1),),
    2: ((2, -1),),
    3: ((2, -1),),
}
# SLTP pseudo-pixel contexts for TPGDON rows (§6.2.5.7 step 2)
_SLTP_CX = {0: 0x9B25, 1: 0x0795, 2: 0x00E5, 3: 0x0195}


def _gb_template(template: int, at) -> tuple:
    if template not in _GB_FIXED:
        raise JBIG2Error(f"bad GBTEMPLATE {template}")
    at = tuple(at) if at else NOMINAL_AT[template]
    if len(at) != len(NOMINAL_AT[template]):
        raise JBIG2Error(
            f"template {template} needs {len(NOMINAL_AT[template])} AT pixels"
        )
    pix = list(_GB_FIXED[template]) + [(int(x), int(y)) for x, y in at]
    pix.sort(key=lambda p: (p[1], p[0]))
    for x, y in pix:
        if y > 0 or (y == 0 and x >= 0):
            raise JBIG2Error(f"AT pixel ({x},{y}) not strictly causal")
    return tuple(pix)


def _gb_context(rows, x: int, y: int, tmpl: tuple, w: int) -> int:
    ctx = 0
    for dx, dy in tmpl:
        yy = y + dy
        xx = x + dx
        if 0 <= yy and 0 <= xx < w:
            ctx = (ctx << 1) | rows[yy][xx]
        else:
            ctx <<= 1
    return ctx


#: per-template sliding-window geometry for NOMINAL AT pixels: with
#: the nominal placements every context row is a CONTIGUOUS run, so
#: the 10-16 bit context updates incrementally per pixel instead of
#: being re-gathered — (bits, (row-2 span), (row-1 span), (row 0 span))
#: where a span is (left_dx, right_dx) inclusive, or None.
_GB_SLIDING = {
    0: ((-2, 2), (-3, 3), (-4, -1)),
    1: ((-1, 2), (-2, 3), (-3, -1)),
    2: ((-1, 1), (-2, 2), (-2, -1)),
    3: (None, (-3, 2), (-4, -1)),
}


def decode_generic(
    dec: MQDecoder,
    cx: dict,
    width: int,
    height: int,
    template: int = 0,
    at=None,
    tpgdon: bool = False,
    skip=None,
) -> list:
    """Arithmetic generic region decode → list of bytearray rows of
    0/1 pixels (1 = black). `cx` is the shared context dict (one per
    generic-coding scope: a region segment, or a whole symbol
    dictionary). Nominal-AT regions (what real encoders emit) take a
    fast sliding-context path with the MQ decoder inlined; custom AT
    pixels fall back to the general per-pixel template walk.
    ``skip`` (§6.2.5.3 USESKIP, rows of 0/1) marks pixels that are
    NOT coded and decode as 0 — the halftone HSKIP plane."""
    at_eff = tuple(at) if at else NOMINAL_AT[template]
    if (tuple(at_eff) == NOMINAL_AT[template] and width > 0
            and skip is None):
        return _decode_generic_fast(
            dec, cx, width, height, template, tpgdon
        )
    tmpl = _gb_template(template, at)
    sltp_cx = _SLTP_CX[template]
    rows: list = []
    ltp = 0
    for y in range(height):
        if tpgdon:
            # T.88 6.2.5.7: the SLTP decision SHARES the generic
            # context bank at the pseudo-pixel context value — one
            # adaptive state with pixel decisions, not a private slot
            state = cx.setdefault(sltp_cx, [0, 0])
            ltp ^= dec.decode(state)
            if ltp:
                rows.append(bytearray(rows[-1]) if rows else bytearray(width))
                continue
        row = bytearray(width)
        rows.append(row)
        srow = skip[y] if skip is not None else None
        for x in range(width):
            if srow is not None and srow[x]:
                continue  # skipped pixel: not coded, stays 0
            c = _gb_context(rows, x, y, tmpl, width)
            state = cx.setdefault(c, [0, 0])
            row[x] = dec.decode(state)
    return rows


def _decode_generic_fast(
    dec: MQDecoder,
    cx: dict,
    width: int,
    height: int,
    template: int,
    tpgdon: bool,
) -> list:
    """Nominal-AT generic decode: sliding per-row context windows +
    the MQ DECODE/BYTEIN/RENORMD procedures inlined into the pixel
    loop, the one place a method call per decision costs measurable
    time. The once-per-row TPGDON decision calls ``dec.decode``, with
    the local registers synced to ``dec`` around it; they are
    restored to ``dec`` on exit, so the coder interleaves freely with
    dict-driven decode calls before/after."""
    span2, span1, span0 = _GB_SLIDING[template]
    sltp_cx = _SLTP_CX[template]
    n2 = (span2[1] - span2[0] + 1) if span2 else 0
    n1 = span1[1] - span1[0] + 1
    n0 = span0[1] - span0[0] + 1
    mask2 = (1 << n2) - 1
    mask1 = (1 << n1) - 1
    mask0 = (1 << n0) - 1
    sh2 = n1 + n0
    sh1 = n0
    r2 = span2[1] if span2 else 0  # right edge dx of each window
    r1 = span1[1]
    l2 = span2[0] if span2 else 0  # left edge dx of each window
    l1 = span1[0]
    # per-row padded neighbor reads: pad right so x+right_dx is safe
    pad = 4
    zero_row = bytes(width + pad)
    # the w2/w1 windows depend ONLY on rows y-2/y-1, so their merged
    # contribution (w2 << sh2) | (w1 << sh1) is precomputable per ROW
    # — vectorized for wide rows (one shifted-or per template dx),
    # leaving just the current-row w0 slide in the pixel loop. Narrow
    # rows keep the scalar slide: numpy's per-row call overhead loses
    # below ~128 px (template 0, alternating in-process A/B: the
    # scalar slide wins 20/21 pairs at 32-64 px, numpy 18/21 at 144).
    use_np = width >= 128
    npl = max(-l1, -l2, 0)  # left zero-pad so negative dx reads 0
    qe_q, qe_q16 = _QE_Q, _QE_Q16
    qe_nmps, qe_nlps, qe_sw = _QE_NMPS, _QE_NLPS, _QE_SW
    # local MQ state, synced with the decoder object around each
    # dec.decode call and restored to it on exit
    data = dec.data
    ndata = len(data)
    bp, c_reg, ct, a_reg = dec.bp, dec.c, dec.ct, dec.a
    rows: list = []
    padded: list = []  # rows + right padding, for window reads
    ltp = 0
    for y in range(height):
        if tpgdon:
            # one decision per row: the SLTP pseudo-pixel
            state = cx.get(sltp_cx)
            if state is None:
                state = cx[sltp_cx] = [0, 0]
            dec.bp, dec.c, dec.ct, dec.a = bp, c_reg, ct, a_reg
            ltp ^= dec.decode(state)
            bp, c_reg, ct, a_reg = dec.bp, dec.c, dec.ct, dec.a
            if ltp:
                prev = rows[-1] if rows else bytearray(width)
                rows.append(bytearray(prev))
                padded.append(bytes(prev) + b"\x00" * pad)
                continue
        row = bytearray(width)
        p2 = padded[y - 2] if y >= 2 else zero_row
        p1 = padded[y - 1] if y >= 1 else zero_row
        if use_np:
            # top[x] = (w2 << sh2) | (w1 << sh1) at pixel x: the
            # window bit for dx=k lands at shift sh + (right - k)
            ext1 = np.zeros(npl + width + pad, np.int32)
            ext1[npl:] = np.frombuffer(p1, np.uint8)
            acc = ext1[npl + l1 : npl + l1 + width] << (sh1 + r1 - l1)
            for k in range(l1 + 1, r1 + 1):
                acc = acc | (
                    ext1[npl + k : npl + k + width] << (sh1 + r1 - k)
                )
            if span2:
                ext2 = np.zeros(npl + width + pad, np.int32)
                ext2[npl:] = np.frombuffer(p2, np.uint8)
                for k in range(l2, r2 + 1):
                    acc = acc | (
                        ext2[npl + k : npl + k + width] << (sh2 + r2 - k)
                    )
            top = acc.tolist()
        else:
            # scalar twin: prime the windows for x=0 (bits at dx in
            # [left, -1] are out of range = zero; dx in [0, right]
            # come from the row), then slide
            w2 = 0
            if span2:
                for dx in range(0, r2 + 1):
                    w2 = (w2 << 1) | p2[dx]
                w2 &= mask2
            w1 = 0
            for dx in range(0, r1 + 1):
                w1 = (w1 << 1) | p1[dx]
            w1 &= mask1
            top = []
            top_append = top.append
            for x in range(width):
                top_append((w2 << sh2) | (w1 << sh1))
                if span2:
                    w2 = ((w2 << 1) | p2[x + 1 + r2]) & mask2
                w1 = ((w1 << 1) | p1[x + 1 + r1]) & mask1
        w0 = 0
        for x, ctx_top in enumerate(top):
            ctx_val = ctx_top | w0
            state = cx.get(ctx_val)
            if state is None:
                state = [0, 0]
                cx[ctx_val] = state
            # ---- inlined MQ DECODE ----
            i_st = state[0]
            qe = qe_q[i_st]
            qe16 = qe_q16[i_st]
            a_reg -= qe
            if c_reg < qe16:  # == Chigh < Qe (C < 2**32 invariant)
                if a_reg < qe:
                    bit = state[1]
                    state[0] = qe_nmps[i_st]
                else:
                    bit = 1 - state[1]
                    if qe_sw[i_st]:
                        state[1] = bit
                    state[0] = qe_nlps[i_st]
                a_reg = qe
                renorm = True
            else:
                c_reg -= qe16  # stays >= 0: c >= qe16 here
                if a_reg & 0x8000:
                    bit = state[1]
                    renorm = False
                else:
                    if a_reg < qe:
                        bit = 1 - state[1]
                        if qe_sw[i_st]:
                            state[1] = bit
                        state[0] = qe_nlps[i_st]
                    else:
                        bit = state[1]
                        state[0] = qe_nmps[i_st]
                    renorm = True
            if renorm:
                while True:
                    if ct == 0:
                        b = data[bp] if bp < ndata else 0xFF
                        b1 = data[bp + 1] if bp + 1 < ndata else 0xFF
                        if b == 0xFF:
                            if b1 > 0x8F:
                                c_reg += 0xFF00
                                ct = 8
                            else:
                                bp += 1
                                c_reg += b1 << 9
                                ct = 7
                        else:
                            bp += 1
                            c_reg += b1 << 8
                            ct = 8
                    a_reg = (a_reg << 1) & 0xFFFF
                    c_reg = (c_reg << 1) & 0xFFFFFFFF
                    ct -= 1
                    if a_reg & 0x8000:
                        break
            # ---------------------------
            row[x] = bit
            w0 = ((w0 << 1) | bit) & mask0  # current-row slide only
        rows.append(row)
        padded.append(bytes(row) + b"\x00" * pad)
    dec.bp, dec.c, dec.ct, dec.a = bp, c_reg, ct, a_reg
    return rows


def encode_generic(
    enc: MQEncoder,
    cx: dict,
    rows,
    template: int = 0,
    at=None,
    tpgdon: bool = False,
    skip=None,
) -> None:
    """Inverse of :func:`decode_generic` (fixture author)."""
    width = len(rows[0]) if rows else 0
    tmpl = _gb_template(template, at)
    sltp_cx = _SLTP_CX[template]
    done: list = []
    ltp = 0
    for y, row in enumerate(rows):
        if tpgdon:
            typical = bool(done) and bytes(row) == bytes(done[-1])
            state = cx.setdefault(sltp_cx, [0, 0])
            enc.encode(int(typical) ^ ltp, state)
            ltp = int(typical)
            if ltp:
                done.append(bytearray(row))
                continue
        done.append(bytearray(row))
        srow = skip[y] if skip is not None else None
        for x in range(width):
            if srow is not None and srow[x]:
                continue  # skipped pixel: never coded
            c = _gb_context(done, x, y, tmpl, width)
            state = cx.setdefault(c, [0, 0])
            enc.encode(row[x], state)


# =====================================================================
# Generic refinement region coding (T.88 §6.3)
# =====================================================================

# Refinement templates (T.88 figures 12-13): context = coding-layer
# pixels then reference-layer pixels, in the listed order, MSB first.
# Template 0 appends one AT pixel to each layer (nominal (-1,-1) both).
_GR_CODING = {
    0: ((0, -1), (1, -1), (-1, 0)),
    1: ((-1, -1), (0, -1), (1, -1), (-1, 0)),
}
_GR_REFERENCE = {
    0: ((0, -1), (1, -1), (-1, 0), (0, 0), (1, 0), (-1, 1), (0, 1), (1, 1)),
    1: ((0, -1), (-1, 0), (0, 0), (1, 0), (0, 1), (1, 1)),
}
NOMINAL_GR_AT = ((-1, -1), (-1, -1))
# TPGRON pseudo-pixel contexts (§6.3.5.6)
_GR_SLTP_CX = {0: 0x0010, 1: 0x0008}


def _ref_px(ref, x: int, y: int) -> int:
    if 0 <= y < len(ref) and 0 <= x < len(ref[y]):
        return ref[y][x]
    return 0


def _gr_context(rows, ref, x, y, dx, dy, coding, reference) -> int:
    ctx = 0
    for cx_, cy_ in coding:
        ctx = (ctx << 1) | _ref_px(rows, x + cx_, y + cy_)
    for rx_, ry_ in reference:
        ctx = (ctx << 1) | _ref_px(ref, x - dx + rx_, y - dy + ry_)
    return ctx


def _gr_typical(ref, x, y, dx, dy) -> int | None:
    """TPGRON: if the 3x3 reference neighbourhood is uniform, the pixel
    is 'typical' and equals it; else None (decode it)."""
    vals = {
        _ref_px(ref, x - dx + i, y - dy + j)
        for i in (-1, 0, 1)
        for j in (-1, 0, 1)
    }
    return vals.pop() if len(vals) == 1 else None


def _gr_templates(template: int, at):
    if template not in _GR_CODING:
        raise JBIG2Error(f"bad GRTEMPLATE {template}")
    coding = list(_GR_CODING[template])
    reference = list(_GR_REFERENCE[template])
    if template == 0:
        at = tuple(at) if at else NOMINAL_GR_AT
        if len(at) != 2:
            raise JBIG2Error("refinement template 0 needs 2 AT pixels")
        coding.append(tuple(at[0]))
        reference.append(tuple(at[1]))
    return tuple(coding), tuple(reference)


def decode_refinement(
    dec: MQDecoder,
    cx: dict,
    width: int,
    height: int,
    ref,
    dx: int = 0,
    dy: int = 0,
    template: int = 0,
    at=None,
    tpgron: bool = False,
) -> list:
    """Generic refinement decode: bitmap (width x height) coded
    against reference `ref` shifted by (dx, dy). `cx` is the shared
    refinement context dict of the enclosing scope. Nominal-AT rows
    wide enough to amortize numpy take a fast path (all template
    reads except the just-decoded left pixel are static per row);
    custom AT pixels and narrow symbol-refinement bitmaps keep the
    general per-pixel template walk."""
    at_eff = (
        tuple(tuple(p) for p in at) if at else NOMINAL_GR_AT
    )
    if width >= 32 and (template == 1 or at_eff == NOMINAL_GR_AT):
        return _decode_refinement_fast(
            dec, cx, width, height, ref, dx, dy, template, tpgron
        )
    coding, reference = _gr_templates(template, at)
    sltp_cx = _GR_SLTP_CX[template]
    rows: list = []
    ltp = 0
    for y in range(height):
        if tpgron:
            state = cx.setdefault(sltp_cx, [0, 0])
            ltp ^= dec.decode(state)
        row = bytearray(width)
        rows.append(row)
        for x in range(width):
            if ltp:
                typ = _gr_typical(ref, x, y, dx, dy)
                if typ is not None:
                    row[x] = typ
                    continue
            c = _gr_context(rows, ref, x, y, dx, dy, coding, reference)
            state = cx.setdefault(c, [0, 0])
            row[x] = dec.decode(state)
    return rows


def _decode_refinement_fast(
    dec: MQDecoder,
    cx: dict,
    width: int,
    height: int,
    ref,
    dx: int,
    dy: int,
    template: int,
    tpgron: bool,
) -> list:
    """Nominal-AT refinement decode. Every template read except the
    current row's (-1, 0) pixel comes from the fixed reference layer
    or the already-finished previous coding row, so their merged
    contribution is a per-ROW numpy precompute (bounded gathers with
    zero fill replicate :func:`_ref_px` range clamping); the pixel
    loop keeps only the just-decoded-bit slide, with the MQ
    DECODE/BYTEIN/RENORMD procedures inlined per pixel as in
    :func:`_decode_generic_fast`; the once-per-row TPGRON decision
    calls ``dec.decode``. TPGRON typical pixels (uniform 3x3
    reference neighbourhood) are likewise vectorized per row."""
    coding, reference = _gr_templates(template, None)
    sltp_cx = _GR_SLTP_CX[template]
    nbits = len(coding) + len(reference)
    # shifts: concat order (coding then reference), MSB first
    prev_coding = []  # (dx, shift) reads of decoded row y-1
    sh_cur = None  # shift of the sliding (-1, 0) coding pixel
    for k, (cdx, cdy) in enumerate(coding):
        sh = nbits - 1 - k
        if cdy == 0:
            sh_cur = sh  # nominal templates: only (-1, 0) has dy 0
        else:
            prev_coding.append((cdx, sh))
    ref_reads = [
        (rdx - dx, rdy - dy, nbits - 1 - len(coding) - k)
        for k, (rdx, rdy) in enumerate(reference)
    ]
    nref = len(ref)
    ref_np: dict = {}  # ref row y' -> (np row, len) or None if OOB

    def _ref_row(ry):
        got = ref_np.get(ry, False)
        if got is False:
            if 0 <= ry < nref:
                rrow = ref[ry]
                got = (np.frombuffer(bytes(rrow), np.uint8),
                       len(rrow))
            else:
                got = None
            ref_np[ry] = got
        return got

    def _gather(src, base):
        """width-length int32 of src[x + base], zero outside src."""
        out = np.zeros(width, np.int32)
        if src is not None:
            arr, n_src = src
            lo = 0 if base >= 0 else -base
            hi = width if n_src - base > width else n_src - base
            if hi > lo:
                out[lo:hi] = arr[lo + base:hi + base]
        return out

    # local MQ state, as in _decode_generic_fast
    data = dec.data
    ndata = len(data)
    bp, c_reg, ct, a_reg = dec.bp, dec.c, dec.ct, dec.a
    qe_q, qe_q16 = _QE_Q, _QE_Q16
    qe_nmps, qe_nlps, qe_sw = _QE_NMPS, _QE_NLPS, _QE_SW
    zero_src = None
    rows: list = []
    ltp = 0
    for y in range(height):
        if tpgron:
            # one decision per row: the SLTP pseudo-pixel
            state = cx.get(sltp_cx)
            if state is None:
                state = cx[sltp_cx] = [0, 0]
            dec.bp, dec.c, dec.ct, dec.a = bp, c_reg, ct, a_reg
            ltp ^= dec.decode(state)
            bp, c_reg, ct, a_reg = dec.bp, dec.c, dec.ct, dec.a
        # static per-row context contribution: previous coding row +
        # all reference-layer reads
        if rows:
            psrc = (np.frombuffer(bytes(rows[-1]), np.uint8), width)
        else:
            psrc = zero_src
        acc = np.zeros(width, np.int32)
        for cdx, sh in prev_coding:
            acc |= _gather(psrc, cdx) << sh
        for base, rdy, sh in ref_reads:
            acc |= _gather(_ref_row(y + rdy), base) << sh
        top = acc.tolist()
        if ltp:
            # TPGRON: typical where the 3x3 reference neighbourhood
            # (zero-filled outside, exactly like _ref_px) is uniform
            g0 = _gather(_ref_row(y - dy - 1), -dx - 1)
            uni = np.ones(width, bool)
            for j in (-1, 0, 1):
                src = _ref_row(y - dy + j)
                for i in (-1, 0, 1):
                    if i == -1 and j == -1:
                        continue
                    uni &= _gather(src, -dx + i) == g0
            uniform = uni.tolist()
            typ = g0.tolist()
        row = bytearray(width)
        rows.append(row)
        prev_bit = 0
        for x, ctx_top in enumerate(top):
            if ltp and uniform[x]:
                bit = typ[x]
                row[x] = bit
                prev_bit = bit
                continue
            ctx_val = ctx_top | (prev_bit << sh_cur)
            state = cx.get(ctx_val)
            if state is None:
                state = cx[ctx_val] = [0, 0]
            # ---- inlined MQ DECODE ----
            i_st = state[0]
            qe = qe_q[i_st]
            qe16 = qe_q16[i_st]
            a_reg -= qe
            if c_reg < qe16:  # == Chigh < Qe (C < 2**32 invariant)
                if a_reg < qe:
                    bit = state[1]
                    state[0] = qe_nmps[i_st]
                else:
                    bit = 1 - state[1]
                    if qe_sw[i_st]:
                        state[1] = bit
                    state[0] = qe_nlps[i_st]
                a_reg = qe
                renorm = True
            else:
                c_reg -= qe16  # stays >= 0: c >= qe16 here
                if a_reg & 0x8000:
                    bit = state[1]
                    renorm = False
                else:
                    if a_reg < qe:
                        bit = 1 - state[1]
                        if qe_sw[i_st]:
                            state[1] = bit
                        state[0] = qe_nlps[i_st]
                    else:
                        bit = state[1]
                        state[0] = qe_nmps[i_st]
                    renorm = True
            if renorm:
                while True:
                    if ct == 0:
                        b = data[bp] if bp < ndata else 0xFF
                        b1 = data[bp + 1] if bp + 1 < ndata else 0xFF
                        if b == 0xFF:
                            if b1 > 0x8F:
                                c_reg += 0xFF00
                                ct = 8
                            else:
                                bp += 1
                                c_reg += b1 << 9
                                ct = 7
                        else:
                            bp += 1
                            c_reg += b1 << 8
                            ct = 8
                    a_reg = (a_reg << 1) & 0xFFFF
                    c_reg = (c_reg << 1) & 0xFFFFFFFF
                    ct -= 1
                    if a_reg & 0x8000:
                        break
            # ---------------------------
            row[x] = bit
            prev_bit = bit
    dec.bp, dec.c, dec.ct, dec.a = bp, c_reg, ct, a_reg
    return rows


def encode_refinement(
    enc: MQEncoder,
    cx: dict,
    rows,
    ref,
    dx: int = 0,
    dy: int = 0,
    template: int = 0,
    at=None,
    tpgron: bool = False,
) -> None:
    """Inverse of :func:`decode_refinement` (fixture author). With
    ``tpgron`` it turns LTP on for rows whose every pixel is typical
    (pixel == its uniform reference neighbourhood)."""
    coding, reference = _gr_templates(template, at)
    sltp_cx = _GR_SLTP_CX[template]
    width = len(rows[0]) if rows else 0
    done: list = []
    ltp = 0
    for y, row in enumerate(rows):
        if tpgron:
            # LTP pays off when typical pixels exist; emit it for rows
            # fully predicted by their reference neighbourhoods.
            want = all(
                _gr_typical(ref, x, y, dx, dy) == row[x]
                for x in range(width)
            ) and width > 0
            state = cx.setdefault(sltp_cx, [0, 0])
            enc.encode(int(want) ^ ltp, state)
            ltp = int(want)
        done.append(bytearray(row))
        for x in range(width):
            if ltp and _gr_typical(ref, x, y, dx, dy) is not None:
                continue
            c = _gr_context(done, ref, x, y, dx, dy, coding, reference)
            state = cx.setdefault(c, [0, 0])
            enc.encode(row[x], state)


# =====================================================================
# Segment grammar (T.88 §7.2)
# =====================================================================

# segment types (§7.3)
SEG_SYMBOL_DICT = 0
SEG_TEXT_INTERMEDIATE = 4
SEG_TEXT_IMMEDIATE = 6
SEG_TEXT_IMMEDIATE_LOSSLESS = 7
SEG_PATTERN_DICT = 16
SEG_HALFTONE = (20, 22, 23)
SEG_GENERIC_INTERMEDIATE = 36
SEG_GENERIC_IMMEDIATE = 38
SEG_GENERIC_IMMEDIATE_LOSSLESS = 39
SEG_REFINEMENT = (40, 42, 43)
SEG_PAGE_INFO = 48
SEG_END_OF_PAGE = 49
SEG_END_OF_STRIPE = 50
SEG_END_OF_FILE = 51
SEG_PROFILES = 52
SEG_TABLES = 53
SEG_EXTENSION = 62


class Segment:
    __slots__ = ("number", "type", "refs", "page", "data")

    def __init__(self, number, stype, refs, page, data):
        self.number = number
        self.type = stype
        self.refs = refs
        self.page = page
        self.data = data


def parse_segments(data: bytes) -> list:
    """Parse the embedded-organization segment sequence (§7.2; no
    file header, 4-byte segment data lengths)."""
    segs = []
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 11 > n:
            raise JBIG2Error("truncated segment header")
        number = struct.unpack_from(">I", data, pos)[0]
        flags = data[pos + 4]
        stype = flags & 0x3F
        pos += 5
        rts = data[pos]
        count = rts >> 5
        if count == 7:
            count = struct.unpack_from(">I", data, pos)[0] & 0x1FFFFFFF
            pos += 4 + (count + 8) // 8  # + retain-bit bytes
        else:
            pos += 1
        size = 1 if number <= 256 else 2 if number <= 65536 else 4
        if pos + count * size > n:
            # the refs must fit in the remaining stream — a crafted
            # 29-bit count must fail here, not allocate 500M entries
            raise JBIG2Error("referred-to list overruns stream")
        refs = []
        for _ in range(count):
            refs.append(int.from_bytes(data[pos:pos + size], "big"))
            pos += size
        if flags & 0x40:
            page = struct.unpack_from(">I", data, pos)[0]
            pos += 4
        else:
            page = data[pos]
            pos += 1
        length = struct.unpack_from(">I", data, pos)[0]
        pos += 4
        if length == 0xFFFFFFFF:
            # §7.2.7: unknown length is only legal for IMMEDIATE
            # generic regions; in PDF embedding the stream's own
            # length bounds it, so the segment pragmatically extends
            # to the end of the data (the pdfium/pdf.js behavior —
            # nothing may follow it)
            if stype not in (SEG_GENERIC_IMMEDIATE,
                             SEG_GENERIC_IMMEDIATE_LOSSLESS):
                raise JBIG2Error(
                    "unknown-length data on a non-generic segment"
                )
            segs.append(Segment(number, stype, refs, page, data[pos:]))
            return segs
        if pos + length > n:
            raise JBIG2Error("segment data overruns stream")
        segs.append(Segment(number, stype, refs, page, data[pos:pos + length]))
        pos += length
    return segs


def _region_info(data: bytes, pos: int = 0):
    """§7.4.1 region segment information field (17 bytes)."""
    w, h, x, y = struct.unpack_from(">IIII", data, pos)
    _check_dims(w, h, "region")
    _check_dims(x + w, y + h, "region placement")
    combop = data[pos + 16] & 0x07
    return w, h, x, y, combop, pos + 17


def _read_at(data: bytes, pos: int, count: int) -> tuple:
    at = []
    for _ in range(count):
        ax = struct.unpack_from(">b", data, pos)[0]
        ay = struct.unpack_from(">b", data, pos + 1)[0]
        at.append((ax, ay))
        pos += 2
    return tuple(at), pos


def _decode_generic_segment(seg_data: bytes):
    """§7.4.6 generic region segment → (rows, x, y, combop)."""
    w, h, x, y, combop, pos = _region_info(seg_data)
    flags = seg_data[pos]
    pos += 1
    mmr = flags & 1
    template = (flags >> 1) & 3
    tpgdon = bool(flags & 8)
    if mmr:
        return _mmr_rows(seg_data[pos:], w, h), x, y, combop
    at, pos = _read_at(seg_data, pos, 4 if template == 0 else 1)
    dec = MQDecoder(seg_data[pos:])
    rows = decode_generic(dec, {}, w, h, template, at, tpgdon)
    return rows, x, y, combop


# ------------------------------------------------------------------
# Symbol dictionary (§6.5 / §7.4.3) and text region (§6.4 / §7.4.4)
# ------------------------------------------------------------------


def _mmr_rows(data: bytes, w: int, h: int) -> list:
    """MMR (T.6) payload → rows of 0/1 (JBIG2 MMR IS G4 coding;
    odd-indexed change pairs delimit black runs)."""
    from pdf2dataset_spark.sources import ccitt

    lines = ccitt.decode_g4(data, w, h)
    rows = []
    for changes in lines:
        row = bytearray(w)
        for j in range(0, len(changes), 2):
            start = min(changes[j], w)
            end = min(changes[j + 1], w) if j + 1 < len(changes) else w
            for i in range(start, end):
                row[i] = 1
        rows.append(row)
    return rows


def _decode_symbol_dict(seg_data: bytes, input_syms: list,
                        tables: list | None = None,
                        used_ctx: tuple | None = None):
    """Symbol dictionary → (exported symbol bitmaps, retained
    context banks or None) — arithmetic §6.5, or Huffman §6.5 with
    SDHUFF=1; `tables` are the referred custom table segments in
    reference order. ``used_ctx`` = (gb_cx, gr_cx) snapshots from a
    referred dictionary that RETAINED them (SDUSEDCTX, §6.5.8.1) —
    copied, since this dictionary adapts them further; with
    SDRETAINDCTX the final banks come back for later dictionaries."""
    flags = struct.unpack_from(">H", seg_data, 0)[0]
    pos = 2
    if flags & 1:
        return _decode_symbol_dict_huffman(
            seg_data, pos, flags, input_syms, tables or []
        ), None
    refagg = bool(flags & 2)
    use_ctx = bool(flags & 0x100)
    retain_ctx = bool(flags & 0x200)
    template = (flags >> 10) & 3
    rtemplate = (flags >> 12) & 1
    at, pos = _read_at(seg_data, pos, 4 if template == 0 else 1)
    rat: tuple = ()
    if refagg and rtemplate == 0:
        rat, pos = _read_at(seg_data, pos, 2)
    num_ex, num_new = struct.unpack_from(">II", seg_data, pos)
    pos += 8
    if num_new > 1 << 20 or num_ex > 1 << 20:
        raise JBIG2Error("implausible symbol counts")
    dec = MQDecoder(seg_data[pos:])
    iadh, iadw, iaex, iaai, iardx, iardy = (IntCoderCx() for _ in range(6))
    # ONE generic + one refinement context bank for the whole dict
    # (§6.5.8.2) — warmed from a referred dictionary's RETAINED
    # banks when SDUSEDCTX (copies: adaptation continues here)
    if use_ctx and used_ctx is not None:
        gb_cx = {k: list(v) for k, v in used_ctx[0].items()}
        gr_cx = {k: list(v) for k, v in used_ctx[1].items()}
    else:
        gb_cx = {}
        gr_cx = {}
    codelen = max(0, ceil(log2(max(1, len(input_syms) + num_new))))
    iaid_bank = _iaid_cx(codelen)
    agg_banks: dict | None = None  # lazy: REFAGGNINST > 1 text banks
    new_syms: list = []
    hc_height = 0
    height_classes = 0
    while len(new_syms) < num_new:
        height_classes += 1
        if height_classes > num_new + 1:
            # MQDecoder feeds 1-bits forever past end-of-data, so a
            # truncated stream can yield empty classes indefinitely;
            # a well-formed dictionary needs at most num_new classes
            raise JBIG2Error("symbol dictionary makes no progress")
        dh = _int_decode(dec, iadh)
        if dh is _OOB:
            raise JBIG2Error("OOB height delta")
        hc_height += dh
        _check_dims(1, hc_height, "symbol height class")
        sym_width = 0
        while True:
            dw = _int_decode(dec, iadw)
            if dw is _OOB:
                break
            sym_width += dw
            if len(new_syms) >= num_new:
                raise JBIG2Error("more new symbols than declared")
            if sym_width <= 0 or hc_height <= 0:
                raise JBIG2Error("non-positive symbol dims")
            _check_dims(sym_width, hc_height, "symbol")
            if not refagg:
                new_syms.append(
                    decode_generic(
                        dec, gb_cx, sym_width, hc_height, template, at
                    )
                )
                continue
            # §6.5.8.2 refinement/aggregate coding
            ninst = _int_decode(dec, iaai)
            if ninst is _OOB:
                raise JBIG2Error("OOB aggregate instance count")
            if ninst != 1:
                # §6.5.8.2.2 TRUE AGGREGATE: the new symbol is a
                # nested TEXT REGION of REFAGGNINST instances drawn
                # from the in-progress pool (Table 17: SBSTRIPS=1,
                # TOPLEFT corner, OR composition, REFINE=1 with the
                # dictionary's refinement template/AT), sharing the
                # dictionary's decoder and context banks — contexts
                # persist across aggregate invocations
                if ninst < 0 or ninst > 8 * len(seg_data) + 64:
                    raise JBIG2Error(
                        "implausible aggregate instance count"
                    )
                pool = list(input_syms) + new_syms
                if not pool:
                    raise JBIG2Error("aggregate with empty symbol pool")
                if agg_banks is None:
                    agg_banks = {
                        name: IntCoderCx()
                        for name in ("iadt", "iafs", "iads", "iait",
                                     "iari", "iardw", "iardh")
                    }
                    agg_banks["iardx"] = iardx
                    agg_banks["iardy"] = iardy
                    agg_banks["iaid"] = iaid_bank
                    agg_banks["gr_cx"] = gr_cx
                new_syms.append(_text_region_arith(
                    dec, agg_banks, pool, codelen, sym_width,
                    hc_height, num_instances=ninst, strips=1,
                    ref_corner=1, transposed=False, comb_op=0,
                    default_pixel=0, ds_offset=0, refine=True,
                    rtemplate=rtemplate, rat=rat,
                ))
                continue
            ref_id = _iaid_decode(dec, iaid_bank, codelen)
            rdx = _int_decode(dec, iardx)
            rdy = _int_decode(dec, iardy)
            if rdx is _OOB or rdy is _OOB:
                raise JBIG2Error("OOB refinement offset")
            pool = list(input_syms) + new_syms
            if not 0 <= ref_id < len(pool):
                raise JBIG2Error(f"refinement base {ref_id} out of range")
            new_syms.append(
                decode_refinement(
                    dec, gr_cx, sym_width, hc_height, pool[ref_id],
                    rdx, rdy, rtemplate, rat,
                )
            )
    # export flags (§6.5.10): alternating skip/export runs
    all_syms = list(input_syms) + new_syms
    exported: list = []
    i, flag, zero_runs = 0, 0, 0
    while i < len(all_syms):
        run = _int_decode(dec, iaex)
        if run is _OOB or run < 0:
            raise JBIG2Error("bad export run")
        zero_runs = zero_runs + 1 if run == 0 else 0
        if zero_runs > 2:  # two consecutive zero runs are a no-op pair
            raise JBIG2Error("export flags make no progress")
        if flag:
            exported.extend(all_syms[i:i + run])
        i += run
        flag ^= 1
    if len(exported) != num_ex:
        raise JBIG2Error(
            f"exported {len(exported)} symbols, declared {num_ex}"
        )
    return exported, ((gb_cx, gr_cx) if retain_ctx else None)


def _huffman_aggregate_text(data: bytes, pool: list, avail: int,
                            sym_w: int, sym_h: int, ninst: int,
                            rtemplate: int, rat: tuple) -> list:
    """TRUE-aggregate nested Huffman text region (T.88 §6.5.8.2.2,
    SDHUFF=1, round-9): the new symbol's bitmap decodes as a text
    region of ``ninst`` instances drawn from the in-progress pool —
    fixed parameters per the spec: SBSTRIPS=1, TOPLEFT corner, OR
    composition, SBDEFPIXEL=0, SBDSOFFSET=0, SBREFINE=1 with the
    dictionary's refinement template/AT, tables B.11 (DT), B.6
    (FS), B.8 (DS), B.15 (RDW/RDH/RDX/RDY), B.1 (RSIZE), and
    FIXED-LENGTH symbol IDs of ceil(log2(SBNUMSYMS)) bits
    (§6.5.8.2.3). ``pool`` holds the symbols decodable so far;
    ``avail`` is how many are valid (later ids are malformed)."""
    from pdf2dataset_spark.sources import jbig2_huffman as jh

    br = jh.BitReader(data)
    tb_dt = jh.standard_table(11)
    tb_fs = jh.standard_table(6)
    tb_ds = jh.standard_table(8)
    tb_rd = jh.standard_table(15)
    tb_rsize = jh.standard_table(1)
    codelen = max(1, ceil(log2(max(2, len(pool)))))
    rows = [bytearray(sym_w) for _ in range(sym_h)]
    stript = tb_dt.decode(br)
    if stript is jh.OOB:
        raise JBIG2Error("OOB aggregate STRIPT")
    stript = -stript
    firsts = 0
    done = 0
    while done < ninst:
        dt = tb_dt.decode(br)
        if dt is jh.OOB:
            raise JBIG2Error("OOB aggregate DT")
        stript += dt
        dfs = tb_fs.decode(br)
        if dfs is jh.OOB:
            raise JBIG2Error("OOB aggregate first S")
        firsts += dfs
        curs = firsts
        first = True
        while done < ninst:
            if not first:
                ids = tb_ds.decode(br)
                if ids is jh.OOB:
                    break
                curs += ids
            first = False
            sym_id = br.bits(codelen)
            if not 0 <= sym_id < avail:
                raise JBIG2Error(
                    f"aggregate symbol id {sym_id} out of range")
            bm = pool[sym_id]
            sh_ = len(bm)
            sw_ = len(bm[0]) if sh_ else 0
            if br.bit():  # RI (§6.4.11)
                deltas = []
                for _ in range(4):
                    v = tb_rd.decode(br)
                    if v is jh.OOB:
                        raise JBIG2Error("OOB aggregate RD value")
                    deltas.append(v)
                rdw, rdh, rdx, rdy = deltas
                bmsize = tb_rsize.decode(br)
                if bmsize is jh.OOB or bmsize <= 0:
                    raise JBIG2Error("bad aggregate refinement BMSIZE")
                start = br.align()
                if start + bmsize > len(data):
                    raise JBIG2Error("aggregate refinement past end")
                new_w, new_h = sw_ + rdw, sh_ + rdh
                if not (0 < new_w <= sym_w + 64
                        and 0 < new_h <= sym_h + 64):
                    raise JBIG2Error("aggregate refined size invalid")
                bm = decode_refinement(
                    MQDecoder(data[start:start + bmsize]), {},
                    new_w, new_h, bm,
                    dx=(rdw >> 1) + rdx, dy=(rdh >> 1) + rdy,
                    template=rtemplate, at=rat,
                )
                sw_, sh_ = new_w, new_h
                br.seek_byte(start + bmsize)
            # TOPLEFT, OR-composite, clipped to the symbol canvas
            for yy in range(sh_):
                ty = stript + yy
                if not 0 <= ty < sym_h:
                    continue
                row = rows[ty]
                srow = bm[yy]
                for xx in range(sw_):
                    tx = curs + xx
                    if 0 <= tx < sym_w and srow[xx]:
                        row[tx] = 1
            curs += sw_ - 1
            done += 1
    return rows


def _decode_symbol_dict_huffman(seg_data: bytes, pos: int, flags: int,
                                input_syms: list, tables: list) -> list:
    """SDHUFF=1 symbol dictionary (§6.5 + 6.5.9 collective bitmaps):
    heights/widths via Annex-B tables, per-height-class bitmaps as
    one collective bitmap — BMSIZE=0 → uncompressed row-padded,
    else MMR — sliced apart by the decoded widths. Export runs use
    Table B.1 (§6.5.10).

    SDREFAGG=1 (§6.5.8.2, the Huffman-REFINEMENT dictionary regime,
    round-8 close): every new symbol decodes individually —
    REFAGGNINST through its selected table, and for the single-
    instance case the reference symbol ID as raw log2(pool) bits,
    RDX/RDY through Table B.15, BMSIZE through the SDHUFFBMSIZE
    table, then a byte-aligned embedded MQ-arithmetic refinement of
    BMSIZE bytes against the pool symbol. Huffman TRUE aggregates
    (REFAGGNINST > 1) decode since round-9 as a nested Huffman text
    region (§6.5.8.2.2) via :func:`_huffman_aggregate_text`, using
    the fixed tables B.11/B.6/B.8/B.15/B.1 §6.5.8.2.3 prescribes."""
    from pdf2dataset_spark.sources import jbig2_huffman as jh

    if flags & 0x100 or flags & 0x200:
        raise JBIG2Unsupported("retained bitmap coding contexts")
    refagg = bool(flags & 2)
    rtemplate = (flags >> 12) & 1
    it = iter(tables)

    def custom(what: str):
        try:
            return next(it)
        except StopIteration:
            raise JBIG2Error(f"missing custom Huffman table for {what}")

    dh_sel = (flags >> 2) & 3
    dw_sel = (flags >> 4) & 3
    bm_sel = (flags >> 6) & 1
    ag_sel = (flags >> 7) & 1
    if dh_sel == 2 or dw_sel == 2:
        raise JBIG2Error("reserved Huffman table selection")
    tb_dh = (jh.standard_table(4) if dh_sel == 0
             else jh.standard_table(5) if dh_sel == 1 else custom("DH"))
    tb_dw = (jh.standard_table(2) if dw_sel == 0
             else jh.standard_table(3) if dw_sel == 1 else custom("DW"))
    tb_bm = jh.standard_table(1) if bm_sel == 0 else custom("BMSIZE")
    tb_ag = jh.standard_table(1) if ag_sel == 0 else custom("AGG")
    rat: tuple = ()
    if refagg and rtemplate == 0:
        if pos + 4 > len(seg_data):
            raise JBIG2Error("truncated refinement AT pixels")
        rat, pos = _read_at(seg_data, pos, 2)
    if pos + 8 > len(seg_data):
        raise JBIG2Error("truncated symbol dictionary header")
    num_ex, num_new = struct.unpack_from(">II", seg_data, pos)
    pos += 8
    if num_new > 1 << 20 or num_ex > 1 << 20:
        raise JBIG2Error("implausible symbol counts")
    br = jh.BitReader(seg_data, pos)
    new_syms: list = []
    hc_height = 0
    height_classes = 0
    # each class consumes >= 2 coded bits (DH + the OOB DW), so the
    # stream's bit length bounds the legal class count — unlike the
    # MQ path, BitReader raises at end-of-data, so this guard only
    # catches pathological short-code loops
    max_classes = num_new + 8 * len(seg_data) + 64
    while len(new_syms) < num_new:
        height_classes += 1
        if height_classes > max_classes:
            raise JBIG2Error("symbol dictionary makes no progress")
        dh = tb_dh.decode(br)
        if dh is jh.OOB:
            raise JBIG2Error("OOB height delta")
        hc_height += dh
        _check_dims(1, hc_height, "symbol height class")
        sym_width = 0
        widths: list = []
        while True:
            dw = tb_dw.decode(br)
            if dw is jh.OOB:
                break
            sym_width += dw
            if sym_width <= 0 or hc_height <= 0:
                raise JBIG2Error("non-positive symbol dims")
            _check_dims(sym_width, hc_height, "symbol")
            if len(new_syms) + len(widths) >= num_new:
                raise JBIG2Error("more new symbols than declared")
            if not refagg:
                widths.append(sym_width)
                continue
            # §6.5.8.2 with SDHUFF=1: the symbol decodes HERE as a
            # refinement of an already-available pool symbol
            ninst = tb_ag.decode(br)
            if ninst is jh.OOB:
                raise JBIG2Error("OOB aggregate instance count")
            if ninst != 1:
                # TRUE aggregate (round-9): BMSIZE via B.1, then a
                # byte-aligned NESTED Huffman text region of ninst
                # instances (§6.5.8.2.2) becomes the new symbol
                if ninst < 0 or ninst > 8 * len(seg_data) + 64:
                    raise JBIG2Error(
                        "implausible aggregate instance count")
                agg_size = tb_bm.decode(br)
                if agg_size is jh.OOB or agg_size <= 0:
                    raise JBIG2Error("bad aggregate BMSIZE")
                start = br.align()
                if start + agg_size > len(seg_data):
                    raise JBIG2Error("aggregate region past end")
                full_pool = list(input_syms) + new_syms
                new_syms.append(_huffman_aggregate_text(
                    seg_data[start:start + agg_size],
                    full_pool + [[bytearray(1)]] * (
                        len(input_syms) + num_new - len(full_pool)),
                    len(full_pool), sym_width, hc_height, ninst,
                    rtemplate, rat,
                ))
                br.seek_byte(start + agg_size)
                continue
            pool = len(input_syms) + num_new
            codelen = max(1, ceil(log2(max(2, pool))))
            ref_id = br.bits(codelen)
            rdx = jh.standard_table(15).decode(br)
            rdy = jh.standard_table(15).decode(br)
            if rdx is jh.OOB or rdy is jh.OOB:
                raise JBIG2Error("OOB refinement offset")
            bmsize = tb_bm.decode(br)
            if bmsize is jh.OOB or bmsize <= 0:
                raise JBIG2Error("bad refinement BMSIZE")
            avail = input_syms + new_syms
            if not 0 <= ref_id < len(avail):
                raise JBIG2Error(
                    f"refinement base {ref_id} out of range"
                )
            start = br.align()
            if start + bmsize > len(seg_data):
                raise JBIG2Error("refinement data past segment end")
            new_syms.append(
                decode_refinement(
                    MQDecoder(seg_data[start:start + bmsize]), {},
                    sym_width, hc_height, avail[ref_id],
                    dx=rdx, dy=rdy, template=rtemplate, at=rat,
                )
            )
            br.seek_byte(start + bmsize)
        if refagg:
            continue  # symbols decoded inline: no collective bitmap
        if not widths:
            # T.88 6.5.5 permits a height class with no symbols
            # (immediate OOB): a no-op — no collective bitmap follows
            continue
        tot = sum(widths)
        _check_dims(tot, hc_height, "collective bitmap")
        bmsize = tb_bm.decode(br)
        if bmsize is jh.OOB or bmsize < 0:
            raise JBIG2Error("bad collective bitmap size")
        start = br.align()
        if bmsize == 0:  # uncompressed, each row padded to a byte
            stride = (tot + 7) >> 3
            need = stride * hc_height
            chunk = seg_data[start:start + need]
            if len(chunk) < need:
                raise JBIG2Error("truncated collective bitmap")
            coll = [
                bytearray(
                    (chunk[y * stride + (xx >> 3)] >> (7 - (xx & 7))) & 1
                    for xx in range(tot)
                )
                for y in range(hc_height)
            ]
            br.seek_byte(start + need)
        else:
            if start + bmsize > len(seg_data):
                raise JBIG2Error("collective bitmap overruns segment")
            coll = _mmr_rows(
                seg_data[start:start + bmsize], tot, hc_height
            )
            br.seek_byte(start + bmsize)
        x0 = 0
        for wdt in widths:
            new_syms.append([row[x0:x0 + wdt] for row in coll])
            x0 += wdt
    # export flags (§6.5.10): alternating skip/export runs via B.1
    tb_ex = jh.standard_table(1)
    all_syms = list(input_syms) + new_syms
    exported: list = []
    i, flag, zero_runs = 0, 0, 0
    while i < len(all_syms):
        run = tb_ex.decode(br)
        if run is jh.OOB or run < 0:
            raise JBIG2Error("bad export run")
        zero_runs = zero_runs + 1 if run == 0 else 0
        if zero_runs > 2:
            raise JBIG2Error("export flags make no progress")
        if flag:
            exported.extend(all_syms[i:i + run])
        i += run
        flag ^= 1
    if len(exported) != num_ex:
        raise JBIG2Error(
            f"exported {len(exported)} symbols, declared {num_ex}"
        )
    return exported


def _decode_pattern_dict(seg_data: bytes) -> list:
    """Pattern dictionary (§6.7): ONE wide generic region holding
    GRAYMAX+1 patterns side by side, sliced apart."""
    flags = seg_data[0]
    mmr = flags & 1
    template = (flags >> 1) & 3
    hdpw, hdph = seg_data[1], seg_data[2]
    graymax = struct.unpack_from(">I", seg_data, 3)[0]
    if hdpw <= 0 or hdph <= 0:
        raise JBIG2Error("non-positive pattern dims")
    if graymax > 0xFFFF:
        raise JBIG2Error("implausible GRAYMAX")
    total_w = (graymax + 1) * hdpw
    _check_dims(total_w, hdph, "pattern dictionary")
    if mmr:
        coll = _mmr_rows(seg_data[7:], total_w, hdph)
    else:
        # §6.7.5: AT1 = (-HDPW, 0) so each pattern's context reaches
        # into its neighbor — the spec's exact placement
        at = ((-hdpw, 0), (-3, -1), (2, -2), (-2, -2))
        dec = MQDecoder(seg_data[7:])
        coll = decode_generic(dec, {}, total_w, hdph, template, at)
    return [
        [row[k * hdpw:(k + 1) * hdpw] for row in coll]
        for k in range(graymax + 1)
    ]


def _halftone_skip_plane(hgw: int, hgh: int, hgx: int, hgy: int,
                         hrx: int, hry: int, hpw: int, hph: int,
                         hbw: int, hbh: int) -> list:
    """§6.6.5.1 HSKIP computation: cell (m, n) is skipped when its
    stamped pattern lies entirely outside the region box."""
    skip = []
    for m in range(hgh):
        row = bytearray(hgw)
        for n in range(hgw):
            px = (hgx + m * hry + n * hrx) >> 8
            py = (hgy + m * hrx - n * hry) >> 8
            if (px + hpw <= 0 or px >= hbw
                    or py + hph <= 0 or py >= hbh):
                row[n] = 1
        skip.append(row)
    return skip


def _decode_halftone_region(seg_data: bytes, patterns: list):
    """Halftone region (§6.6, arithmetic/MMR grayscale): Gray-coded
    bitplanes of grid values, each a generic region; patterns are
    stamped on the (possibly skewed) 8.8 fixed-point grid."""
    w, h, x, y, combop, pos = _region_info(seg_data)
    flags = seg_data[pos]
    pos += 1
    mmr = flags & 1
    template = (flags >> 1) & 3
    enable_skip = bool(flags & 8)
    comb_op = (flags >> 4) & 7
    if enable_skip and mmr:
        # the skip plane only affects ARITHMETIC grayscale coding
        # (C.5); MMR planes code every cell, so HENABLESKIP is a
        # legal no-op there — decode rather than decline
        enable_skip = False
    if not patterns:
        raise JBIG2Error("halftone region with no pattern dictionary")
    hgw, hgh = struct.unpack_from(">II", seg_data, pos)
    hgx, hgy = struct.unpack_from(">ii", seg_data, pos + 8)
    hrx, hry = struct.unpack_from(">HH", seg_data, pos + 16)
    pos += 20
    _check_dims(hgw, hgh, "halftone grid")
    nplanes = max(1, (len(patterns) - 1).bit_length())
    skip = None
    if enable_skip:
        # §6.6.5.1 HSKIP: grid cells whose pattern falls entirely
        # outside the region are never coded (their value is 0)
        hpw = len(patterns[0][0]) if patterns[0] else 0
        hph = len(patterns[0])
        skip = _halftone_skip_plane(
            hgw, hgh, hgx, hgy, hrx, hry, hpw, hph, w, h
        )
    # grayscale image (Annex C.5): planes MSB..LSB, Gray-decoded,
    # ONE shared generic context bank (and one MMR coder) across them
    planes = []
    if mmr:
        from pdf2dataset_spark.sources import ccitt

        lines = ccitt.decode_g4(seg_data[pos:], hgw, hgh * nplanes)
        if len(lines) < hgh * nplanes:
            raise JBIG2Error("halftone MMR planes truncated")
        for j in range(nplanes):
            plane = []
            for changes in lines[j * hgh:(j + 1) * hgh]:
                row = bytearray(hgw)
                for k in range(0, len(changes), 2):
                    start = min(changes[k], hgw)
                    end = (min(changes[k + 1], hgw)
                           if k + 1 < len(changes) else hgw)
                    for i in range(start, end):
                        row[i] = 1
                plane.append(row)
            planes.append(plane)
    else:
        at = ((3 if template <= 1 else 2, -1), (-3, -1), (2, -2),
              (-2, -2))
        dec = MQDecoder(seg_data[pos:])
        gb_cx: dict = {}
        for _ in range(nplanes):
            planes.append(
                decode_generic(dec, gb_cx, hgw, hgh, template, at,
                               skip=skip)
            )
    # Gray decode: MSB plane is literal; each next = XOR with prev
    values = [[0] * hgw for _ in range(hgh)]
    prev = None
    for plane in planes:  # MSB first
        for m in range(hgh):
            vrow = values[m]
            prow = plane[m]
            if prev is not None:
                pprev = prev[m]
                for n in range(hgw):
                    b = prow[n] ^ pprev[n]
                    prow[n] = b
                    vrow[n] = (vrow[n] << 1) | b
            else:
                for n in range(hgw):
                    vrow[n] = (vrow[n] << 1) | prow[n]
        prev = plane
    rows = [bytearray(w) for _ in range(h)]
    gmax = len(patterns) - 1
    for m in range(hgh):
        for n in range(hgw):
            px = (hgx + m * hry + n * hrx) >> 8
            py = (hgy + m * hrx - n * hry) >> 8
            val = values[m][n]
            if val > gmax:
                val = gmax  # clamp: spec says values never exceed
            _blit(rows, patterns[val], px, py, comb_op)
    return rows, x, y, combop


def _decode_text_region_huffman(seg_data: bytes, pos: int, flags: int,
                                syms: list, tables: list,
                                w: int, h: int, x: int, y: int,
                                combop: int):
    """SBHUFF=1 text region (§6.4 + §7.4.4.5): a 16-bit Huffman-flags
    field selects the FS/DS/DT (and refinement-delta) tables, symbol
    IDs get a runcode-built canonical code, CURT is log2(SBSTRIPS)
    raw bits. SBREFINE=1 (§6.4.11, the Huffman-refinement regime,
    round-8 close): each instance reads a raw RI bit; refined
    instances decode RDW/RDH/RDX/RDY through their selected tables
    and BMSIZE through the RSIZE table, byte-align, then
    arithmetically decode the refinement bitmap from the next BMSIZE
    bytes against the symbol shifted by floor(RDW/2)+RDX /
    floor(RDH/2)+RDY, with a fresh GR context per instance."""
    from pdf2dataset_spark.sources import jbig2_huffman as jh

    refine = bool(flags & 2)
    rtemplate = (flags >> 15) & 1
    log_strips = (flags >> 2) & 3
    strips = 1 << log_strips
    ref_corner = (flags >> 4) & 3
    transposed = bool(flags & 0x40)
    comb_op = (flags >> 7) & 3
    default_pixel = (flags >> 9) & 1
    ds_offset = (flags >> 10) & 0x1F
    if ds_offset > 15:
        ds_offset -= 32
    hflags = struct.unpack_from(">H", seg_data, pos)[0]
    pos += 2
    it = iter(tables)

    def custom(what: str):
        try:
            return next(it)
        except StopIteration:
            raise JBIG2Error(f"missing custom Huffman table for {what}")

    def select(sel: int, std0: int, std1: int, std2: int | None,
               what: str):
        if sel == 0:
            return jh.standard_table(std0)
        if sel == 1:
            return jh.standard_table(std1)
        if sel == 2 and std2 is not None:
            return jh.standard_table(std2)
        if sel == 3:
            return custom(what)
        raise JBIG2Error(f"reserved Huffman table selection for {what}")

    tb_fs = select(hflags & 3, 6, 7, None, "FS")
    tb_ds = select((hflags >> 2) & 3, 8, 9, 10, "DS")
    tb_dt = select((hflags >> 4) & 3, 11, 12, 13, "DT")
    # RDW/RDH/RDX/RDY: B.14 (sel 0) / B.15 (sel 1) / custom (sel 3)
    # per §7.4.4.1.4-7; RSIZE: B.1 (sel 0) / custom (sel 1). A sel-3
    # custom table consumes a referred segment even without SBREFINE.
    tb_rd = {}
    for shift, what in ((6, "RDW"), (8, "RDH"), (10, "RDX"),
                        (12, "RDY")):
        tb_rd[what] = select((hflags >> shift) & 3, 14, 15, None, what)
    tb_rsize = custom("RSIZE") if (hflags >> 14) & 1 \
        else jh.standard_table(1)
    rat: tuple = ()
    if refine and rtemplate == 0:
        rat, pos = _read_at(seg_data, pos, 2)
    num_instances = struct.unpack_from(">I", seg_data, pos)[0]
    pos += 4
    if num_instances > 8 * len(seg_data) + 64:
        raise JBIG2Error("implausible text-region instance count")
    if not syms:
        raise JBIG2Error("text region with no referred symbols")
    br = jh.BitReader(seg_data, pos)
    symtab = jh.read_symbol_id_codes(br, len(syms))
    rows = [bytearray([default_pixel]) * w for _ in range(h)]
    stript = tb_dt.decode(br)
    if stript is jh.OOB:
        raise JBIG2Error("OOB STRIPT")
    stript *= -strips
    firsts = 0
    ninst = 0
    while ninst < num_instances:
        dt = tb_dt.decode(br)
        if dt is jh.OOB:
            raise JBIG2Error("OOB DT")
        stript += dt * strips
        dfs = tb_fs.decode(br)
        if dfs is jh.OOB:
            raise JBIG2Error("OOB first S")
        firsts += dfs
        curs = firsts
        first = True
        while True:
            if not first:
                ids = tb_ds.decode(br)
                if ids is jh.OOB:
                    break
                curs += ids + ds_offset
            first = False
            curt = br.bits(log_strips) if strips > 1 else 0
            t = stript + curt
            sym_id = symtab.decode(br)
            if not 0 <= sym_id < len(syms):
                raise JBIG2Error(f"symbol id {sym_id} out of range")
            bm = syms[sym_id]
            sh = len(bm)
            sw = len(bm[0]) if sh else 0
            if refine and br.bit():  # RI (§6.4.11: one raw bit)
                deltas = {}
                for what in ("RDW", "RDH", "RDX", "RDY"):
                    v = tb_rd[what].decode(br)
                    if v is jh.OOB:
                        raise JBIG2Error(f"OOB {what}")
                    deltas[what] = v
                bmsize = tb_rsize.decode(br)
                if bmsize is jh.OOB or bmsize <= 0:
                    # BMSIZE 0 ("until exhausted") has no delimiter
                    # inside a Huffman bit stream — crafted/corrupt
                    raise JBIG2Error("bad refinement BMSIZE")
                start = br.align()
                if start + bmsize > len(seg_data):
                    raise JBIG2Error("refinement data past segment end")
                new_w = sw + deltas["RDW"]
                new_h = sh + deltas["RDH"]
                if not (0 < new_w <= w + 64 and 0 < new_h <= h + 64):
                    raise JBIG2Error("refined symbol size out of range")
                bm = decode_refinement(
                    MQDecoder(seg_data[start:start + bmsize]), {},
                    new_w, new_h, bm,
                    dx=(deltas["RDW"] >> 1) + deltas["RDX"],
                    dy=(deltas["RDH"] >> 1) + deltas["RDY"],
                    template=rtemplate, at=rat,
                )
                sw, sh = new_w, new_h
                br.seek_byte(start + bmsize)
            if transposed:
                x0 = t if not (ref_corner & 2) else t - sw + 1
                y0 = curs
                curs += sh - 1
            else:
                x0 = curs
                y0 = t if (ref_corner & 1) else t - sh + 1
                curs += sw - 1
            _blit(rows, bm, x0, y0, comb_op)
            ninst += 1
            if ninst > num_instances:
                raise JBIG2Error("instance overrun")
    return rows, x, y, combop


def _decode_text_region(seg_data: bytes, syms: list,
                        tables: list | None = None):
    """Text region → (rows, x, y, combop) — arithmetic §6.4, or
    Huffman with SBHUFF=1 (`tables` are referred custom table
    segments in reference order)."""
    w, h, x, y, combop, pos = _region_info(seg_data)
    flags = struct.unpack_from(">H", seg_data, pos)[0]
    pos += 2
    if flags & 1:
        return _decode_text_region_huffman(
            seg_data, pos, flags, syms, tables or [],
            w, h, x, y, combop,
        )
    refine = bool(flags & 2)
    log_strips = (flags >> 2) & 3
    strips = 1 << log_strips
    ref_corner = (flags >> 4) & 3
    transposed = bool(flags & 0x40)
    comb_op = (flags >> 7) & 3
    default_pixel = (flags >> 9) & 1
    ds_offset = (flags >> 10) & 0x1F
    if ds_offset > 15:
        ds_offset -= 32
    rtemplate = (flags >> 15) & 1
    rat: tuple = ()
    if refine and rtemplate == 0:
        rat, pos = _read_at(seg_data, pos, 2)
    num_instances = struct.unpack_from(">I", seg_data, pos)[0]
    pos += 4
    if num_instances > 8 * len(seg_data) + 64:
        # each instance consumes >= 1 coded decision; a count beyond
        # the bit budget is a crafted/corrupt header
        raise JBIG2Error("implausible text-region instance count")
    if not syms:
        raise JBIG2Error("text region with no referred symbols")
    codelen = max(0, ceil(log2(len(syms))))
    dec = MQDecoder(seg_data[pos:])
    banks = {
        name: IntCoderCx()
        for name in ("iadt", "iafs", "iads", "iait", "iari",
                     "iardw", "iardh", "iardx", "iardy")
    }
    banks["iaid"] = _iaid_cx(codelen)
    banks["gr_cx"] = {}  # shared refinement contexts for the region
    rows = _text_region_arith(
        dec, banks, syms, codelen, w, h,
        num_instances=num_instances, strips=strips,
        ref_corner=ref_corner, transposed=transposed,
        comb_op=comb_op, default_pixel=default_pixel,
        ds_offset=ds_offset, refine=refine, rtemplate=rtemplate,
        rat=rat,
    )
    return rows, x, y, combop


def _text_region_arith(dec: MQDecoder, banks: dict, syms: list,
                       codelen: int, w: int, h: int, *,
                       num_instances: int, strips: int = 1,
                       ref_corner: int = 1, transposed: bool = False,
                       comb_op: int = 0, default_pixel: int = 0,
                       ds_offset: int = 0, refine: bool = False,
                       rtemplate: int = 0, rat: tuple = ()) -> list:
    """Arithmetic text-region decoding core (§6.4 steps 3-4) over an
    EXISTING decoder and context banks — shared by standalone text
    region segments and by REFAGGNINST > 1 aggregate symbol coding
    (§6.5.8.2.2, where the nested 'text region' draws the new symbol
    from the dictionary's in-progress pool with the dictionary's
    shared contexts)."""
    iadt, iafs, iads, iait, iari = (
        banks["iadt"], banks["iafs"], banks["iads"], banks["iait"],
        banks["iari"],
    )
    iardw, iardh, iardx, iardy = (
        banks["iardw"], banks["iardh"], banks["iardx"], banks["iardy"]
    )
    iaid_cx = banks["iaid"]
    gr_cx = banks["gr_cx"]
    rows = [bytearray([default_pixel]) * w for _ in range(h)]

    stript = _int_decode(dec, iadt)
    if stript is _OOB:
        raise JBIG2Error("OOB STRIPT")
    stript *= -strips
    firsts = 0
    ninst = 0
    while ninst < num_instances:
        dt = _int_decode(dec, iadt)
        if dt is _OOB:
            raise JBIG2Error("OOB DT")
        stript += dt * strips
        dfs = _int_decode(dec, iafs)
        if dfs is _OOB:
            raise JBIG2Error("OOB first S")
        firsts += dfs
        curs = firsts
        first = True
        while True:
            if not first:
                ids = _int_decode(dec, iads)
                if ids is _OOB:
                    break
                curs += ids + ds_offset
            first = False
            curt = 0 if strips == 1 else _int_decode(dec, iait)
            if curt is _OOB:
                raise JBIG2Error("OOB CURT")
            t = stript + curt
            sym_id = _iaid_decode(dec, iaid_cx, codelen)
            if not 0 <= sym_id < len(syms):
                raise JBIG2Error(f"symbol id {sym_id} out of range")
            bm = syms[sym_id]
            sh = len(bm)
            sw = len(bm[0]) if sh else 0
            if refine:
                ri = _int_decode(dec, iari)
                if ri is _OOB:
                    raise JBIG2Error("OOB RI")
                if ri:
                    # §6.4.11: refined instance — decode a correction
                    # layer against the dictionary symbol
                    rdw = _int_decode(dec, iardw)
                    rdh = _int_decode(dec, iardh)
                    rdx = _int_decode(dec, iardx)
                    rdy = _int_decode(dec, iardy)
                    if _OOB in (rdw, rdh, rdx, rdy):
                        raise JBIG2Error("OOB refinement delta")
                    nw, nh = sw + rdw, sh + rdh
                    if nw <= 0 or nh <= 0:
                        raise JBIG2Error("non-positive refined dims")
                    bm = decode_refinement(
                        dec, gr_cx, nw, nh, bm,
                        (rdw >> 1) + rdx, (rdh >> 1) + rdy,
                        rtemplate, rat,
                    )
                    sw, sh = nw, nh
            # §6.4.5 step 3c: S always tracks the leading edge along
            # the strip axis (pre-advance for right/bottom corners ≡
            # draw-at-curs + uniform post-advance); the reference
            # corner only picks the cross-axis edge.
            if transposed:
                x0 = t if not (ref_corner & 2) else t - sw + 1
                y0 = curs
                curs += sh - 1
            else:
                x0 = curs
                y0 = t if (ref_corner & 1) else t - sh + 1
                curs += sw - 1
            _blit(rows, bm, x0, y0, comb_op)
            ninst += 1
            if ninst > num_instances:
                raise JBIG2Error("instance overrun")
    return rows


_COMBOPS = {
    0: lambda a, b: a | b,       # OR
    1: lambda a, b: a & b,       # AND
    2: lambda a, b: a ^ b,       # XOR
    3: lambda a, b: 1 - (a ^ b),  # XNOR
    4: lambda a, b: b,           # REPLACE
}


def _blit(dst_rows, src_rows, x0: int, y0: int, op: int) -> None:
    """Combine ``src_rows`` onto ``dst_rows`` at (x0, y0) under the
    §4 external combination operator. Rows hold 0/1 BYTES, so every
    operator is a whole-row big-int byte op (round 11: this replaced
    a per-pixel lambda dispatch, ~35% of whole-page decode, and the
    interim per-row numpy op — int.from_bytes/OR/to_bytes run at C
    speed at ANY clip width, tiny glyph blits included)."""
    if op not in _COMBOPS:
        raise JBIG2Error(f"bad combination operator {op}")
    hh = len(dst_rows)
    for sy, srow in enumerate(src_rows):
        yy = y0 + sy
        if not 0 <= yy < hh:
            continue
        drow = dst_rows[yy]
        ww = len(drow)
        sstart = -x0 if x0 < 0 else 0
        dstart = x0 if x0 > 0 else 0
        n = min(len(srow) - sstart, ww - dstart)
        if n <= 0:
            continue
        dend = dstart + n
        if op == 4:  # REPLACE: straight slice copy
            drow[dstart:dend] = srow[sstart:sstart + n]
            continue
        si = int.from_bytes(bytes(srow[sstart:sstart + n]), "big")
        di = int.from_bytes(bytes(drow[dstart:dend]), "big")
        if op == 0:
            r = di | si
        elif op == 1:
            r = di & si
        elif op == 2:
            r = di ^ si
        else:  # XNOR on 0/1 bytes: (a ^ b) ^ 1 per byte
            r = (di ^ si) ^ (((1 << (8 * n)) - 1) // 255)
        drow[dstart:dend] = r.to_bytes(n, "big")


# =====================================================================
# Page assembly (embedded organization)
# =====================================================================


def decode_embedded(data: bytes, globals_data: bytes | None = None,
                    max_pixels: int | None = None):
    """Decode a PDF-embedded JBIG2 stream (+ optional /JBIG2Globals)
    to (width, height, rows-of-0/1). First page in the stream (PDF
    embeds exactly one per image XObject, §ISO 32000 7.4.7).
    ``max_pixels`` lowers the decode-size bound for this call — the
    CPU-cost cap for adversarial-but-valid headers."""
    if max_pixels is not None:
        token = _MAX_PIXELS_VAR.set(min(max_pixels, _MAX_PIXELS))
        try:
            return decode_embedded(data, globals_data)
        finally:
            _MAX_PIXELS_VAR.reset(token)
    segs = []
    if globals_data:
        segs.extend(parse_segments(globals_data))
    segs.extend(parse_segments(data))
    sym_dicts: dict = {}  # segment number -> exported symbols
    pat_dicts: dict = {}  # segment number -> pattern bitmaps
    huff_tables: dict = {}  # segment number -> custom HuffTable
    inter_regions: dict = {}  # segment number -> retained bitmap rows
    dict_ctx: dict = {}  # segment number -> retained context banks
    page_rows: list = []
    page_w = 0
    page_default = 0
    saw_page = False

    def grow(need_h: int, need_w: int) -> None:
        nonlocal page_w
        if need_w > page_w:
            for i, r in enumerate(page_rows):
                page_rows[i] = r + bytearray([page_default]) * (need_w - len(r))
            page_w = need_w
        while len(page_rows) < need_h:
            page_rows.append(bytearray([page_default]) * page_w)

    def referred_symbols(seg: Segment) -> list:
        out: list = []
        for r in seg.refs:
            if r in sym_dicts:
                out.extend(sym_dicts[r])
        return out

    def referred_tables(seg: Segment) -> list:
        return [huff_tables[r] for r in seg.refs if r in huff_tables]

    for seg in segs:
        t = seg.type
        if t == SEG_PAGE_INFO:
            if saw_page:
                raise JBIG2Unsupported("multiple pages in embedded stream")
            saw_page = True
            w, h = struct.unpack_from(">II", seg.data, 0)
            _check_dims(w, 1 if h == 0xFFFFFFFF else h, "page")
            flags = seg.data[16]
            page_default = (flags >> 2) & 1
            page_w = w
            page_rows = [
                bytearray([page_default]) * w
                for _ in range(0 if h == 0xFFFFFFFF else h)
            ]
        elif t == SEG_SYMBOL_DICT:
            used = next(
                (dict_ctx[r] for r in seg.refs if r in dict_ctx),
                None,
            )
            syms, retained = _decode_symbol_dict(
                seg.data, referred_symbols(seg),
                referred_tables(seg), used,
            )
            sym_dicts[seg.number] = syms
            if retained is not None:
                dict_ctx[seg.number] = retained
        elif t in (SEG_GENERIC_INTERMEDIATE, SEG_GENERIC_IMMEDIATE,
                   SEG_GENERIC_IMMEDIATE_LOSSLESS):
            rows, x, y, combop = _decode_generic_segment(seg.data)
            if t == SEG_GENERIC_INTERMEDIATE:
                # intermediate regions are RETAINED for later
                # segments (refinement references), not composited
                # onto the page (§8.2)
                inter_regions[seg.number] = rows
            elif rows:
                grow(y + len(rows), x + len(rows[0]))
                _blit(page_rows, rows, x, y, combop)
        elif t in (SEG_TEXT_INTERMEDIATE, SEG_TEXT_IMMEDIATE,
                   SEG_TEXT_IMMEDIATE_LOSSLESS):
            rows, x, y, combop = _decode_text_region(
                seg.data, referred_symbols(seg), referred_tables(seg)
            )
            if t == SEG_TEXT_INTERMEDIATE:
                inter_regions[seg.number] = rows
            elif rows:
                grow(y + len(rows), x + len(rows[0]))
                _blit(page_rows, rows, x, y, combop)
        elif t == SEG_TABLES:
            from pdf2dataset_spark.sources.jbig2_huffman import (
                parse_table_segment,
            )

            huff_tables[seg.number] = parse_table_segment(seg.data)
        elif t in (SEG_END_OF_PAGE, SEG_END_OF_STRIPE, SEG_END_OF_FILE,
                   SEG_PROFILES, SEG_EXTENSION):
            continue
        elif t == SEG_PATTERN_DICT:
            pat_dicts[seg.number] = _decode_pattern_dict(seg.data)
        elif t in SEG_HALFTONE:
            pats: list = []
            for rnum in seg.refs:
                pats.extend(pat_dicts.get(rnum, []))
            rows, x, y, combop = _decode_halftone_region(seg.data, pats)
            if rows:
                grow(y + len(rows), x + len(rows[0]))
                _blit(page_rows, rows, x, y, combop)
        elif t in SEG_REFINEMENT:
            # §7.4.7 refinement region: refines a referred retained
            # intermediate region, or — with no region reference —
            # the page buffer under the region box (§7.4.7.2)
            w, h, x, y, combop, pos = _region_info(seg.data)
            rflags = seg.data[pos]
            pos += 1
            template = rflags & 1
            tpgron = bool(rflags & 2)
            at = None
            if template == 0:
                at, pos = _read_at(seg.data, pos, 2)
            ref = None
            for rnum in seg.refs:
                if rnum in inter_regions:
                    ref = inter_regions[rnum]
                    break
            page_reference = ref is None
            if page_reference:
                grow(y + h, x + w)
                ref = [bytearray(page_rows[y + j][x:x + w])
                       for j in range(h)]
            dec = MQDecoder(seg.data[pos:])
            rows = decode_refinement(
                dec, {}, w, h, ref, 0, 0, template, at, tpgron
            )
            if t == SEG_REFINEMENT[0]:  # 40: intermediate — retain
                inter_regions[seg.number] = rows
            elif page_reference:
                # refining the page in place REPLACES the region
                # (T.88 §8.2 requires REPLACE when the reference is
                # the page buffer)
                for j, rrow in enumerate(rows):
                    page_rows[y + j][x:x + w] = rrow
            elif rows:
                grow(y + len(rows), x + w)
                _blit(page_rows, rows, x, y, combop)
        else:
            raise JBIG2Unsupported(f"segment type {t}")
    if not saw_page and not page_rows:
        raise JBIG2Error("no page information segment")
    return page_w, len(page_rows), page_rows


#: 0/1 pixel byte -> 8-bit gray (ink black = 0), via C-level translate
_GRAY_FROM_BIT = bytes(255 if i == 0 else 0 for i in range(256))


def decode_jbig2_gray(
    data: bytes, globals_data: bytes | None = None,
    max_pixels: int | None = None,
) -> tuple[int, int, bytes]:
    """/JBIG2Decode entry: returns (width, height, 8-bit gray pixels,
    ink black = 0) — the :func:`ccitt.decode_ccitt_gray` convention."""
    w, h, rows = decode_embedded(data, globals_data, max_pixels)
    px = bytearray(w * h)
    for y, row in enumerate(rows):
        base = y * w
        px[base:base + len(row)] = bytes(row).translate(_GRAY_FROM_BIT)
    return w, h, bytes(px)


# =====================================================================
# Fixture encoder (embedded organization)
# =====================================================================


def _segment_header(
    number: int, stype: int, page: int, length: int, refs=()
) -> bytes:
    out = bytearray(struct.pack(">I", number))
    out.append(stype & 0x3F)  # 1-byte page association
    if len(refs) >= 7:
        raise JBIG2Error("fixture encoder caps referred segments at 6")
    out.append(len(refs) << 5)
    size = 1 if number <= 256 else 2 if number <= 65536 else 4
    for r in refs:
        out += int(r).to_bytes(size, "big")
    out.append(page & 0xFF)
    out += struct.pack(">I", length)
    return bytes(out)


def encode_generic_page(
    rows,
    template: int = 0,
    at=None,
    tpgdon: bool = False,
    mmr: bool = False,
) -> bytes:
    """Author an embedded JBIG2 stream: page info + one immediate
    lossless generic region covering the page. Input rows: iterable
    of 0/1 (1 = black). With ``mmr`` the region body is T.6 (G4)
    coded via :mod:`sources.ccitt` instead of MQ-arithmetic."""
    rows = [bytearray(r) for r in rows]
    h = len(rows)
    w = len(rows[0]) if h else 0
    region = bytearray(struct.pack(">IIII", w, h, 0, 0))
    region.append(0)  # external comb op OR
    if mmr:
        from pdf2dataset_spark.sources import ccitt

        region.append(1)  # flags: MMR=1
        gray = bytes(0 if v else 255 for r in rows for v in r)
        region += ccitt.encode_g4(gray, w, h)
    else:
        enc = MQEncoder()
        encode_generic(enc, {}, rows, template, at, tpgdon)
        at = tuple(at) if at else NOMINAL_AT[template]
        region.append((template << 1) | (8 if tpgdon else 0))
        for ax, ay in at:
            region += struct.pack(">bb", ax, ay)
        region += enc.flush()
    page_info = struct.pack(">IIII", w, h, 0, 0) + bytes([0]) + struct.pack(">H", 0)
    out = bytearray()
    out += _segment_header(0, SEG_PAGE_INFO, 1, len(page_info))
    out += page_info
    out += _segment_header(1, SEG_GENERIC_IMMEDIATE_LOSSLESS, 1, len(region))
    out += region
    return bytes(out)


def encode_refinement_page(
    base_rows,
    refined_rows,
    template: int = 0,
    tpgron: bool = False,
    intermediate: bool = False,
) -> bytes:
    """Author an embedded JBIG2 stream exercising the REFINEMENT
    region segment (§7.4.7): a base bitmap, then a refinement that
    turns it into ``refined_rows``.

    ``intermediate=False`` (the common PDF lossy-then-lossless
    shape): the base is an immediate generic region composited onto
    the page, and the type-43 refinement carries NO region reference
    — the decoder must refine against the PAGE BUFFER and replace
    the region (§7.4.7.2 / §8.2).

    ``intermediate=True``: the base is a type-36 INTERMEDIATE
    generic region (retained, never composited), and the refinement
    refers to it by segment number — the retained-bitmap reference
    path."""
    base_rows = [bytearray(r) for r in base_rows]
    refined_rows = [bytearray(r) for r in refined_rows]
    h = len(refined_rows)
    w = len(refined_rows[0]) if h else 0
    if len(base_rows) != h or (h and len(base_rows[0]) != w):
        raise JBIG2Error("base and refined bitmaps must match")
    # base generic region
    region = bytearray(struct.pack(">IIII", w, h, 0, 0))
    region.append(0)  # comb op OR
    enc = MQEncoder()
    encode_generic(enc, {}, base_rows, 0, None, False)
    region.append(0)  # flags: template 0
    for ax, ay in NOMINAL_AT[0]:
        region += struct.pack(">bb", ax, ay)
    region += enc.flush()
    # refinement region: §8.2 REQUIRES the external combination
    # operator to be REPLACE when the reference is the page buffer
    # (OR could never clear corrected pixels); the retained-
    # intermediate shape composites onto a blank page with OR
    refine = bytearray(struct.pack(">IIII", w, h, 0, 0))
    refine.append(0 if intermediate else 4)
    refine.append((1 if template else 0) | (2 if tpgron else 0))
    at = NOMINAL_GR_AT if template == 0 else None
    if template == 0:
        for ax, ay in NOMINAL_GR_AT:
            refine += struct.pack(">bb", ax, ay)
    enc = MQEncoder()
    encode_refinement(enc, {}, refined_rows, base_rows, 0, 0,
                      template, at, tpgron)
    refine += enc.flush()
    page_info = (struct.pack(">IIII", w, h, 0, 0) + bytes([0])
                 + struct.pack(">H", 0))
    out = bytearray()
    out += _segment_header(0, SEG_PAGE_INFO, 1, len(page_info))
    out += page_info
    base_type = (SEG_GENERIC_INTERMEDIATE if intermediate
                 else SEG_GENERIC_IMMEDIATE_LOSSLESS)
    out += _segment_header(1, base_type, 1, len(region))
    out += region
    refs = (1,) if intermediate else ()
    out += _segment_header(2, SEG_REFINEMENT[2], 1, len(refine), refs)
    out += refine
    return bytes(out)


def encode_text_page(
    symbols,
    placements,
    width: int,
    height: int,
    split_globals: bool = False,
):
    """Author a symbol-coded embedded JBIG2 stream: symbol dictionary
    (arithmetic, template 0) + one immediate text region placing
    `placements` by TOPLEFT corner. Each placement is
    ``(sym_index, x, y)`` — or ``(sym_index, x, y, refined_bitmap)``
    to draw a REFINED instance (§6.4.11): the refined bitmap is
    refinement-coded against symbol `sym_index` (template 0, nominal
    AT, RDX=RDY=0).

    Returns ``(data, globals)`` — globals is None unless
    `split_globals`, in which case the symbol dictionary travels in
    the returned globals stream (the /JBIG2Globals shape)."""
    symbols = [[bytearray(r) for r in s] for s in symbols]
    placements = [
        (p[0], p[1], p[2], [bytearray(r) for r in p[3]])
        if len(p) > 3 and p[3] is not None
        else (p[0], p[1], p[2], None)
        for p in placements
    ]
    any_refined = any(p[3] is not None for p in placements)
    if not symbols or not placements:
        raise JBIG2Error("need at least one symbol and placement")
    # ---- symbol dictionary: sort by (height, width) into height classes
    order = sorted(range(len(symbols)),
                   key=lambda i: (len(symbols[i]), len(symbols[i][0])))
    enc = MQEncoder()
    iadh, iadw, iaex = IntCoderCx(), IntCoderCx(), IntCoderCx()
    gb_cx: dict = {}
    hc_height = 0
    i = 0
    while i < len(order):
        h = len(symbols[order[i]])
        _int_encode(enc, iadh, h - hc_height)
        hc_height = h
        sym_width = 0
        while i < len(order) and len(symbols[order[i]]) == hc_height:
            sym = symbols[order[i]]
            w = len(sym[0])
            _int_encode(enc, iadw, w - sym_width)
            sym_width = w
            encode_generic(enc, gb_cx, sym, template=0)
            i += 1
        _int_encode(enc, iadw, _OOB)
    # export them all: run of 0 skipped, then run of all exported
    _int_encode(enc, iaex, 0)
    _int_encode(enc, iaex, len(symbols))
    sd_mq = enc.flush()
    sd = bytearray(struct.pack(">H", 0))  # flags: arithmetic, template 0
    for ax, ay in NOMINAL_AT[0]:
        sd += struct.pack(">bb", ax, ay)
    sd += struct.pack(">II", len(symbols), len(symbols))
    sd += sd_mq
    # exported order is height-class order; map caller ids to it
    exported_pos = {sym_i: k for k, sym_i in enumerate(order)}
    # ---- text region: one strip per distinct y (strips=1)
    codelen = max(0, ceil(log2(len(symbols))))
    enc = MQEncoder()
    iadt, iafs, iads, iari, iardw, iardh, iardx, iardy = (
        IntCoderCx() for _ in range(8)
    )
    gr_cx: dict = {}
    iaid_cx = _iaid_cx(codelen)
    _int_encode(enc, iadt, 0)  # STRIPT = 0
    stript = 0
    firsts = 0
    by_t: dict = {}
    for sym_i, x, y, rb in placements:
        by_t.setdefault(y, []).append((x, sym_i, rb))
    for t in sorted(by_t):
        _int_encode(enc, iadt, t - stript)
        stript = t
        xs = sorted(by_t[t], key=lambda e: e[0])
        first_x = xs[0][0]
        _int_encode(enc, iafs, first_x - firsts)
        firsts = first_x
        curs = firsts
        for j, (px, sym_i, rb) in enumerate(xs):
            if j:
                _int_encode(enc, iads, px - curs)
                curs = px
            _iaid_encode(enc, iaid_cx, codelen, exported_pos[sym_i])
            if any_refined:
                _int_encode(enc, iari, 0 if rb is None else 1)
            if rb is not None:
                base = symbols[sym_i]
                rdw = len(rb[0]) - len(base[0])
                rdh = len(rb) - len(base)
                _int_encode(enc, iardw, rdw)
                _int_encode(enc, iardh, rdh)
                _int_encode(enc, iardx, 0)
                _int_encode(enc, iardy, 0)
                encode_refinement(
                    enc, gr_cx, rb, base, rdw >> 1, rdh >> 1, 0, None
                )
                curs += len(rb[0]) - 1
            else:
                curs += len(symbols[sym_i][0]) - 1
        _int_encode(enc, iads, _OOB)
    tr_mq = enc.flush()
    tr = bytearray(struct.pack(">IIII", width, height, 0, 0))
    tr.append(0)  # OR onto page
    # flags: arithmetic, strips=1, TOPLEFT corner, not transposed,
    # OR, default 0, dsoffset 0, templates 0 (+ refinement if used)
    tr += struct.pack(">H", (1 << 4) | (2 if any_refined else 0))
    if any_refined:  # nominal refinement AT pixels, template 0
        for ax, ay in NOMINAL_GR_AT:
            tr += struct.pack(">bb", ax, ay)
    tr += struct.pack(">I", len(placements))
    tr += tr_mq
    page_info = (struct.pack(">IIII", width, height, 0, 0) + bytes([0])
                 + struct.pack(">H", 0))
    sd_seg = _segment_header(1, SEG_SYMBOL_DICT, 1, len(sd)) + bytes(sd)
    body = bytearray()
    body += _segment_header(0, SEG_PAGE_INFO, 1, len(page_info)) + page_info
    if not split_globals:
        body += sd_seg
    body += _segment_header(
        2, SEG_TEXT_IMMEDIATE_LOSSLESS, 1, len(tr), refs=(1,)
    ) + bytes(tr)
    return bytes(body), (sd_seg if split_globals else None)


def encode_refagg_page(
    base_symbols,
    variants,
    placements,
    width: int,
    height: int,
) -> bytes:
    """Author an embedded stream exercising REFINEMENT/AGGREGATE
    symbol dictionaries (§6.5.8.2, REFAGGNINST == 1): dictionary 1
    generic-codes `base_symbols`; dictionary 2 (SDREFAGG=1) imports
    them and refinement-codes each ``variants[i] = (base_index,
    bitmap)`` against its base; the text region refers to BOTH
    dictionaries, so `placements` indexes [bases..., variants...] —
    ``(sym_index, x, y)`` by TOPLEFT corner."""
    base_symbols = [[bytearray(r) for r in s] for s in base_symbols]
    variants = [(bi, [bytearray(r) for r in bm]) for bi, bm in variants]
    # ---- dict 1: plain generic coding (reuse encode_text_page's
    # dictionary shape via a private build)
    order = sorted(range(len(base_symbols)),
                   key=lambda i: (len(base_symbols[i]),
                                  len(base_symbols[i][0])))
    enc = MQEncoder()
    iadh, iadw, iaex = IntCoderCx(), IntCoderCx(), IntCoderCx()
    gb_cx: dict = {}
    hc_height = 0
    i = 0
    while i < len(order):
        h = len(base_symbols[order[i]])
        _int_encode(enc, iadh, h - hc_height)
        hc_height = h
        sym_width = 0
        while i < len(order) and len(base_symbols[order[i]]) == hc_height:
            sym = base_symbols[order[i]]
            _int_encode(enc, iadw, len(sym[0]) - sym_width)
            sym_width = len(sym[0])
            encode_generic(enc, gb_cx, sym, template=0)
            i += 1
        _int_encode(enc, iadw, _OOB)
    _int_encode(enc, iaex, 0)
    _int_encode(enc, iaex, len(base_symbols))
    sd1 = bytearray(struct.pack(">H", 0))
    for ax, ay in NOMINAL_AT[0]:
        sd1 += struct.pack(">bb", ax, ay)
    sd1 += struct.pack(">II", len(base_symbols), len(base_symbols))
    sd1 += enc.flush()
    base_pos = {sym_i: k for k, sym_i in enumerate(order)}
    # ---- dict 2: SDREFAGG=1, one height class per variant (variants
    # keep their own dims; heights must be fed non-decreasing)
    vorder = sorted(range(len(variants)),
                    key=lambda i: (len(variants[i][1]),
                                   len(variants[i][1][0])))
    n_in = len(base_symbols)
    codelen = max(0, ceil(log2(max(1, n_in + len(variants)))))
    enc = MQEncoder()
    iadh, iadw, iaex, iaai, iardx, iardy = (IntCoderCx() for _ in range(6))
    iaid_bank = _iaid_cx(codelen)
    gr_cx: dict = {}
    hc_height = 0
    i = 0
    while i < len(vorder):
        h = len(variants[vorder[i]][1])
        _int_encode(enc, iadh, h - hc_height)
        hc_height = h
        sym_width = 0
        while i < len(vorder) and len(variants[vorder[i]][1]) == hc_height:
            bi, bm = variants[vorder[i]]
            _int_encode(enc, iadw, len(bm[0]) - sym_width)
            sym_width = len(bm[0])
            _int_encode(enc, iaai, 1)  # REFAGGNINST
            # decoder's pool = input syms (exported order of dict 1)
            _iaid_encode(enc, iaid_bank, codelen, base_pos[bi])
            _int_encode(enc, iardx, 0)
            _int_encode(enc, iardy, 0)
            encode_refinement(
                enc, gr_cx, bm, base_symbols[bi], 0, 0, 0, None
            )
            i += 1
        _int_encode(enc, iadw, _OOB)
    # export only the NEW symbols: skip the imported bases
    _int_encode(enc, iaex, n_in)
    _int_encode(enc, iaex, len(variants))
    # flags: SDREFAGG=1, SDTEMPLATE=0, SDRTEMPLATE=0
    sd2 = bytearray(struct.pack(">H", 2))
    for ax, ay in NOMINAL_AT[0]:
        sd2 += struct.pack(">bb", ax, ay)
    for ax, ay in NOMINAL_GR_AT:
        sd2 += struct.pack(">bb", ax, ay)
    sd2 += struct.pack(">II", len(variants), len(variants))
    sd2 += enc.flush()
    # ---- text region over [dict1 exports..., dict2 exports...]
    all_syms = ([base_symbols[k] for k in order]
                + [variants[k][1] for k in vorder])
    tr_codelen = max(0, ceil(log2(len(all_syms))))
    # map caller index: bases by base_pos; variants offset by vorder
    vpos = {sym_i: n_in + k for k, sym_i in enumerate(vorder)}
    enc = MQEncoder()
    iadt, iafs, iads = IntCoderCx(), IntCoderCx(), IntCoderCx()
    trid_bank = _iaid_cx(tr_codelen)
    _int_encode(enc, iadt, 0)
    stript = 0
    firsts = 0
    by_t: dict = {}
    for sym_i, x, y in placements:
        by_t.setdefault(y, []).append((x, sym_i))
    for t in sorted(by_t):
        _int_encode(enc, iadt, t - stript)
        stript = t
        xs = sorted(by_t[t])
        _int_encode(enc, iafs, xs[0][0] - firsts)
        firsts = xs[0][0]
        curs = firsts
        for j, (px, sym_i) in enumerate(xs):
            if j:
                _int_encode(enc, iads, px - curs)
                curs = px
            k = base_pos[sym_i] if sym_i < n_in else vpos[sym_i - n_in]
            _iaid_encode(enc, trid_bank, tr_codelen, k)
            curs += len(all_syms[k][0]) - 1
        _int_encode(enc, iads, _OOB)
    tr = bytearray(struct.pack(">IIII", width, height, 0, 0))
    tr.append(0)
    tr += struct.pack(">H", 1 << 4)
    tr += struct.pack(">I", len(placements))
    tr += enc.flush()
    page_info = (struct.pack(">IIII", width, height, 0, 0) + bytes([0])
                 + struct.pack(">H", 0))
    body = bytearray()
    body += _segment_header(0, SEG_PAGE_INFO, 1, len(page_info)) + page_info
    body += _segment_header(1, SEG_SYMBOL_DICT, 1, len(sd1)) + bytes(sd1)
    body += _segment_header(
        2, SEG_SYMBOL_DICT, 1, len(sd2), refs=(1,)
    ) + bytes(sd2)
    body += _segment_header(
        3, SEG_TEXT_IMMEDIATE_LOSSLESS, 1, len(tr), refs=(1, 2)
    ) + bytes(tr)
    return bytes(body)


def encode_aggregate_page(
    base_symbols,
    aggregates,
    placements,
    width: int,
    height: int,
) -> bytes:
    """Author an embedded stream exercising TRUE AGGREGATE symbol
    coding (§6.5.8.2.2, REFAGGNINST > 1): dictionary 1 generic-codes
    ``base_symbols``; dictionary 2 (SDREFAGG=1) builds each
    ``aggregates[i] = (w, h, [(base_index, x, y), ...])`` as a
    nested TEXT REGION of len(instances) placements of base symbols
    (TOPLEFT corner, OR composition, shared dictionary contexts);
    the page text region refers to both dictionaries, so
    ``placements`` indexes [bases..., aggregates...] as
    ``(sym_index, x, y)`` by TOPLEFT corner."""
    base_symbols = [[bytearray(r) for r in s] for s in base_symbols]
    # ---- dict 1: plain generic coding
    order = sorted(range(len(base_symbols)),
                   key=lambda i: (len(base_symbols[i]),
                                  len(base_symbols[i][0])))
    enc = MQEncoder()
    iadh, iadw, iaex = IntCoderCx(), IntCoderCx(), IntCoderCx()
    gb_cx: dict = {}
    hc_height = 0
    i = 0
    while i < len(order):
        h = len(base_symbols[order[i]])
        _int_encode(enc, iadh, h - hc_height)
        hc_height = h
        sym_width = 0
        while i < len(order) and len(base_symbols[order[i]]) == hc_height:
            sym = base_symbols[order[i]]
            _int_encode(enc, iadw, len(sym[0]) - sym_width)
            sym_width = len(sym[0])
            encode_generic(enc, gb_cx, sym, template=0)
            i += 1
        _int_encode(enc, iadw, _OOB)
    _int_encode(enc, iaex, 0)
    _int_encode(enc, iaex, len(base_symbols))
    sd1 = bytearray(struct.pack(">H", 0))
    for ax, ay in NOMINAL_AT[0]:
        sd1 += struct.pack(">bb", ax, ay)
    sd1 += struct.pack(">II", len(base_symbols), len(base_symbols))
    sd1 += enc.flush()
    base_pos = {sym_i: k for k, sym_i in enumerate(order)}
    # ---- dict 2: SDREFAGG=1 with REFAGGNINST > 1 aggregates
    n_in = len(base_symbols)
    codelen = max(0, ceil(log2(max(1, n_in + len(aggregates)))))
    aorder = sorted(range(len(aggregates)),
                    key=lambda i: (aggregates[i][1], aggregates[i][0]))
    enc = MQEncoder()
    iadh, iadw, iaex, iaai = (IntCoderCx() for _ in range(4))
    iaid_bank = _iaid_cx(codelen)
    banks = {
        name: IntCoderCx()
        for name in ("iadt", "iafs", "iads", "iait", "iari",
                     "iardw", "iardh", "iardx", "iardy")
    }
    banks["iaid"] = iaid_bank
    banks["gr_cx"] = {}
    hc_height = 0
    i = 0
    while i < len(aorder):
        aw, ah, inst = aggregates[aorder[i]]
        _int_encode(enc, iadh, ah - hc_height)
        hc_height = ah
        sym_width = 0
        while i < len(aorder) and aggregates[aorder[i]][1] == hc_height:
            aw, ah, inst = aggregates[aorder[i]]
            if len(inst) < 2:
                raise JBIG2Error("aggregate needs REFAGGNINST > 1")
            _int_encode(enc, iadw, aw - sym_width)
            sym_width = aw
            _int_encode(enc, iaai, len(inst))
            # nested text region mirroring _text_region_arith's
            # strips=1 / TOPLEFT / OR / refine=True read sequence
            by_t: dict = {}
            for bi, px, py in inst:
                by_t.setdefault(py, []).append((px, base_pos[bi]))
            _int_encode(enc, banks["iadt"], 0)  # initial STRIPT
            stript = 0
            firsts = 0
            for ty in sorted(by_t):
                _int_encode(enc, banks["iadt"], ty - stript)
                stript = ty
                xs = sorted(by_t[ty])
                _int_encode(enc, banks["iafs"], xs[0][0] - firsts)
                firsts = xs[0][0]
                curs = firsts
                for j, (px, k) in enumerate(xs):
                    if j:
                        _int_encode(enc, banks["iads"], px - curs)
                        curs = px
                    _iaid_encode(enc, iaid_bank, codelen, k)
                    _int_encode(enc, banks["iari"], 0)
                    curs += len(base_symbols[order[k]][0]) - 1
                _int_encode(enc, banks["iads"], _OOB)
            i += 1
        _int_encode(enc, iadw, _OOB)
    _int_encode(enc, iaex, n_in)  # skip imported bases
    _int_encode(enc, iaex, len(aggregates))
    sd2 = bytearray(struct.pack(">H", 2))  # SDREFAGG=1, templates 0
    for ax, ay in NOMINAL_AT[0]:
        sd2 += struct.pack(">bb", ax, ay)
    for ax, ay in NOMINAL_GR_AT:
        sd2 += struct.pack(">bb", ax, ay)
    sd2 += struct.pack(">II", len(aggregates), len(aggregates))
    sd2 += enc.flush()
    # ---- page text region over [dict1 exports..., dict2 exports...]
    agg_bitmaps = []
    for k in aorder:
        aw, ah, inst = aggregates[k]
        bm = [bytearray(aw) for _ in range(ah)]
        for bi, px, py in inst:
            _blit(bm, base_symbols[bi], px, py, 0)
        agg_bitmaps.append(bm)
    all_syms = [base_symbols[k] for k in order] + agg_bitmaps
    tr_codelen = max(0, ceil(log2(len(all_syms))))
    vpos = {sym_i: n_in + k for k, sym_i in enumerate(aorder)}
    enc = MQEncoder()
    iadt, iafs, iads = IntCoderCx(), IntCoderCx(), IntCoderCx()
    trid_bank = _iaid_cx(tr_codelen)
    _int_encode(enc, iadt, 0)
    stript = 0
    firsts = 0
    by_t2: dict = {}
    for sym_i, x, y in placements:
        by_t2.setdefault(y, []).append((x, sym_i))
    for t in sorted(by_t2):
        _int_encode(enc, iadt, t - stript)
        stript = t
        xs = sorted(by_t2[t])
        _int_encode(enc, iafs, xs[0][0] - firsts)
        firsts = xs[0][0]
        curs = firsts
        for j, (px, sym_i) in enumerate(xs):
            if j:
                _int_encode(enc, iads, px - curs)
                curs = px
            k = base_pos[sym_i] if sym_i < n_in else vpos[sym_i - n_in]
            _iaid_encode(enc, trid_bank, tr_codelen, k)
            curs += len(all_syms[k][0]) - 1
        _int_encode(enc, iads, _OOB)
    tr = bytearray(struct.pack(">IIII", width, height, 0, 0))
    tr.append(0)
    tr += struct.pack(">H", 1 << 4)  # TOPLEFT, no refine
    tr += struct.pack(">I", len(placements))
    tr += enc.flush()
    page_info = (struct.pack(">IIII", width, height, 0, 0) + bytes([0])
                 + struct.pack(">H", 0))
    body = bytearray()
    body += _segment_header(0, SEG_PAGE_INFO, 1, len(page_info)) + page_info
    body += _segment_header(1, SEG_SYMBOL_DICT, 1, len(sd1)) + bytes(sd1)
    body += _segment_header(
        2, SEG_SYMBOL_DICT, 1, len(sd2), refs=(1,)
    ) + bytes(sd2)
    body += _segment_header(
        3, SEG_TEXT_IMMEDIATE_LOSSLESS, 1, len(tr), refs=(1, 2)
    ) + bytes(tr)
    return bytes(body)


def encode_halftone_page(patterns, values, hgx: int = 0, hgy: int = 0,
                         enable_skip: bool = False) -> bytes:
    """Author an embedded stream with a pattern dictionary (§6.7) and
    an immediate lossless halftone region (§6.6): `patterns` is a
    list of equal-sized square bitmaps, `values` an HGH x HGW grid of
    pattern indices (Gray-coded bitplanes, arithmetic). Square grid
    with spacing = pattern size. With ``enable_skip`` the §6.6.5.1
    HSKIP plane is computed (cells stamped entirely outside the
    region — e.g. with a negative ``hgx``/``hgy`` grid offset) and
    those cells' grayscale bits are never coded; their values are
    forced to 0 as the decoder will reproduce."""
    patterns = [[bytearray(r) for r in p] for p in patterns]
    if not patterns or not values:
        raise JBIG2Error("need patterns and a value grid")
    hdph = len(patterns[0])
    hdpw = len(patterns[0][0])
    if hdpw != hdph:
        raise JBIG2Error("fixture encoder uses square patterns")
    for p in patterns:
        if len(p) != hdph or len(p[0]) != hdpw:
            raise JBIG2Error("patterns must share dimensions")
    gmax = len(patterns) - 1
    if any(v < 0 or v > gmax for row in values for v in row):
        raise JBIG2Error("value outside pattern range")
    hgh = len(values)
    hgw = len(values[0])
    # ---- pattern dictionary: one collective generic region
    coll = [
        bytearray(b"".join(bytes(p[r]) for p in patterns))
        for r in range(hdph)
    ]
    at = ((-hdpw, 0), (-3, -1), (2, -2), (-2, -2))
    enc = MQEncoder()
    encode_generic(enc, {}, coll, 0, at)
    pd = bytes([0, hdpw, hdph]) + struct.pack(">I", gmax) + enc.flush()
    # ---- halftone region: Gray-coded bitplanes, shared contexts
    w = hgw * hdpw
    h = hgh * hdph
    skip = None
    if enable_skip:
        skip = _halftone_skip_plane(
            hgw, hgh, hgx, hgy, hdpw << 8, 0, hdpw, hdph, w, h
        )
        values = [
            [0 if srow[n] else v for n, v in enumerate(row)]
            for row, srow in zip(values, skip)
        ]
    nplanes = max(1, gmax.bit_length())
    enc = MQEncoder()
    gb_cx: dict = {}
    h_at = ((3, -1), (-3, -1), (2, -2), (-2, -2))
    prev_bits = None
    for j in range(nplanes - 1, -1, -1):  # MSB first
        bits = [
            bytearray((v >> j) & 1 for v in row) for row in values
        ]
        stored = (bits if prev_bits is None else [
            bytearray(b ^ pb for b, pb in zip(brow, prow))
            for brow, prow in zip(bits, prev_bits)
        ])
        encode_generic(enc, gb_cx, stored, 0, h_at, skip=skip)
        prev_bits = bits
    ht = bytearray(struct.pack(">IIII", w, h, 0, 0))
    ht.append(0)  # external comb op OR
    # flags: arithmetic, template 0, HENABLESKIP bit 3, OR, defpix 0
    ht.append(8 if enable_skip else 0)
    ht += struct.pack(">II", hgw, hgh)
    ht += struct.pack(">ii", hgx, hgy)
    ht += struct.pack(">HH", hdpw << 8, 0)  # square grid, no skew
    ht += enc.flush()
    page_info = (struct.pack(">IIII", w, h, 0, 0) + bytes([0])
                 + struct.pack(">H", 0))
    body = bytearray()
    body += _segment_header(0, SEG_PAGE_INFO, 1, len(page_info)) + page_info
    body += _segment_header(1, SEG_PATTERN_DICT, 1, len(pd)) + pd
    body += _segment_header(
        2, SEG_HALFTONE[2], 1, len(ht), refs=(1,)
    ) + bytes(ht)
    return bytes(body)


def encode_huffman_refagg_page(
    bases,
    refined,
    placements,
    width: int,
    height: int,
):
    """Author a page whose SECOND symbol dictionary is the Huffman-
    REFINEMENT regime (SDHUFF=1 + SDREFAGG=1, §6.5.8.2 — the round-8
    close): dictionary 1 is a plain SDHUFF collective-bitmap dict
    exporting ``bases``; dictionary 2 refines pool symbols into new
    ones — ``refined`` is a list of ``(base index, target rows, rdx,
    rdy)`` — each coded as REFAGGNINST=1 (B.1), a raw-bit symbol ID,
    B.15 deltas, B.1 BMSIZE and a byte-aligned embedded MQ
    refinement. A ``("agg", w, h, [(pool index, x, y), ...])`` entry
    instead authors a TRUE AGGREGATE (round-9, §6.5.8.2.2):
    REFAGGNINST = the instance count, then B.1 BMSIZE and a
    byte-aligned NESTED Huffman text region placing dict-1 pool
    symbols (fixed-length IDs, RI=0, B.11/B.6/B.8 tables, one strip
    per distinct y). The text region indexes dictionary 2's exports
    (bases first in dict-1 export order, then the refined symbols in
    ``refined`` order); ``placements`` are (symbol, x, y) against
    that order. Returns the embedded JBIG2 body (globals inline)."""
    from pdf2dataset_spark.sources import jbig2_huffman as jh

    bases = [[bytearray(r) for r in s] for s in bases]
    if not bases or not refined or not placements:
        raise JBIG2Error("need bases, refinements and placements")
    # ---- dictionary 1: plain SDHUFF, uncompressed collective
    order1 = sorted(range(len(bases)),
                    key=lambda i: (len(bases[i]), len(bases[i][0])))
    tb_dh = jh.standard_table(4)
    tb_dw = jh.standard_table(2)
    tb_bm = jh.standard_table(1)
    tb_ex = jh.standard_table(1)
    tb_rd = jh.standard_table(15)
    bw = jh.BitWriter()
    hc_height = 0
    i = 0
    while i < len(order1):
        hgt = len(bases[order1[i]])
        tb_dh.encode(bw, hgt - hc_height)
        hc_height = hgt
        group = []
        while i < len(order1) and len(bases[order1[i]]) == hgt:
            group.append(order1[i])
            i += 1
        sym_width = 0
        for si in group:
            tb_dw.encode(bw, len(bases[si][0]) - sym_width)
            sym_width = len(bases[si][0])
        tb_dw.encode(bw, jh.OOB)
        tot = sum(len(bases[si][0]) for si in group)
        tb_bm.encode(bw, 0)
        bw.align()
        stride = (tot + 7) >> 3
        packed = bytearray(stride * hgt)
        x0 = 0
        for si in group:
            for yy in range(hgt):
                for xx, bit in enumerate(bases[si][yy]):
                    if bit:
                        packed[yy * stride + ((x0 + xx) >> 3)] |= (
                            0x80 >> ((x0 + xx) & 7)
                        )
            x0 += len(bases[si][0])
        bw.raw_bytes(bytes(packed))
    tb_ex.encode(bw, 0)
    tb_ex.encode(bw, len(bases))
    sd1 = (struct.pack(">H", 1)
           + struct.pack(">II", len(bases), len(bases))
           + bw.getvalue())
    pool1 = [bases[si] for si in order1]  # dict-1 export order
    # ---- dictionary 2: SDHUFF + SDREFAGG refinement symbols
    n_pool = len(pool1) + len(refined)
    codelen = max(1, ceil(log2(max(2, n_pool))))

    def _entry_dims(e):
        if e[0] == "agg":
            return e[2], e[1]  # (h, w)
        return len(e[1]), len(e[1][0])

    def _agg_bitmap(aw, ah, insts):
        rows = [bytearray(aw) for _ in range(ah)]
        for pid, px_, py_ in insts:
            bm = pool1[pid]
            for yy in range(len(bm)):
                if not 0 <= py_ + yy < ah:
                    continue
                for xx in range(len(bm[0])):
                    if 0 <= px_ + xx < aw and bm[yy][xx]:
                        rows[py_ + yy][px_ + xx] = 1
        return rows

    order2 = sorted(
        range(len(refined)),
        key=lambda i: _entry_dims(refined[i]),
    )
    tb_dt2 = jh.standard_table(11)
    tb_fs2 = jh.standard_table(6)
    tb_ds2 = jh.standard_table(8)
    bw = jh.BitWriter()
    hc_height = 0
    i = 0
    while i < len(order2):
        hgt = _entry_dims(refined[order2[i]])[0]
        tb_dh.encode(bw, hgt - hc_height)
        hc_height = hgt
        sym_width = 0
        while i < len(order2) \
                and _entry_dims(refined[order2[i]])[0] == hgt:
            entry = refined[order2[i]]
            if entry[0] == "agg":
                # TRUE aggregate (round-9): nested text region
                _, aw, ah, insts = entry
                tb_dw.encode(bw, aw - sym_width)
                sym_width = aw
                tb_bm.encode(bw, len(insts))  # REFAGGNINST > 1
                nbw = jh.BitWriter()
                by_t: dict = {}
                for pid, px_, py_ in insts:
                    by_t.setdefault(py_, []).append((px_, pid))
                tb_dt2.encode(nbw, 1)  # STRIPT -> -1
                stript = -1
                firsts = 0
                for t in sorted(by_t):
                    tb_dt2.encode(nbw, t - stript)
                    stript = t
                    xs2 = sorted(by_t[t])
                    tb_fs2.encode(nbw, xs2[0][0] - firsts)
                    firsts = xs2[0][0]
                    curs = firsts
                    for j, (px_, pid) in enumerate(xs2):
                        if j:
                            tb_ds2.encode(nbw, px_ - curs)
                            curs = px_
                        nbw.bits(pid, codelen)
                        nbw.bit(0)  # RI = 0
                        curs += len(pool1[pid][0]) - 1
                    tb_ds2.encode(nbw, jh.OOB)
                data = nbw.getvalue()
                tb_bm.encode(bw, len(data))
                bw.align()
                bw.raw_bytes(data)
                i += 1
                continue
            base_i, target, rdx, rdy = entry
            target = [bytearray(r) for r in target]
            tb_dw.encode(bw, len(target[0]) - sym_width)
            sym_width = len(target[0])
            tb_bm.encode(bw, 1)  # REFAGGNINST = 1 (via B.1)
            bw.bits(base_i, codelen)  # raw-bit pool symbol ID
            tb_rd.encode(bw, rdx)
            tb_rd.encode(bw, rdy)
            enc = MQEncoder()
            encode_refinement(
                enc, {}, target, pool1[base_i],
                dx=rdx, dy=rdy, template=0,
            )
            data = enc.flush()
            tb_bm.encode(bw, len(data))
            bw.align()
            bw.raw_bytes(data)
            i += 1
        tb_dw.encode(bw, jh.OOB)
    tb_ex.encode(bw, 0)
    tb_ex.encode(bw, n_pool)  # export the whole pool
    sd2 = (struct.pack(">H", 1 | 2)  # SDHUFF | SDREFAGG, template 0
           + struct.pack(">bbbb", -1, -1, -1, -1)  # nominal GR AT
           + struct.pack(">II", n_pool, len(refined))
           + bw.getvalue())
    # ---- text region over dictionary 2's exports
    exported = pool1 + [
        _agg_bitmap(refined[i][1], refined[i][2], refined[i][3])
        if refined[i][0] == "agg"
        else [bytearray(r) for r in refined[i][1]]
        for i in order2
    ]
    bw = jh.BitWriter()
    symtab = jh.write_symbol_id_codes(bw, len(exported))
    tb_dt = jh.standard_table(11)
    tb_fs = jh.standard_table(6)
    tb_ds = jh.standard_table(8)
    by_t: dict = {}
    for sym_i, px_, py_ in placements:
        by_t.setdefault(py_, []).append((px_, sym_i))
    tb_dt.encode(bw, 1)
    stript = -1
    firsts = 0
    for t in sorted(by_t):
        tb_dt.encode(bw, t - stript)
        stript = t
        xs = sorted(by_t[t])
        first_x = xs[0][0]
        tb_fs.encode(bw, first_x - firsts)
        firsts = first_x
        curs = firsts
        for j, (px_, sym_i) in enumerate(xs):
            if j:
                tb_ds.encode(bw, px_ - curs)
                curs = px_
            symtab.encode(bw, sym_i)
            curs += len(exported[sym_i][0]) - 1
        tb_ds.encode(bw, jh.OOB)
    tr = bytearray(struct.pack(">IIII", width, height, 0, 0))
    tr.append(0)
    tr += struct.pack(">H", 1 | (1 << 4))  # SBHUFF, TOPLEFT
    tr += struct.pack(">H", 0)
    tr += struct.pack(">I", len(placements))
    tr += bw.getvalue()
    page_info = (struct.pack(">IIII", width, height, 0, 0) + bytes([0])
                 + struct.pack(">H", 0))
    body = bytearray()
    body += _segment_header(0, SEG_PAGE_INFO, 1, len(page_info)) \
        + page_info
    body += _segment_header(1, SEG_SYMBOL_DICT, 1, len(sd1)) + bytes(sd1)
    body += _segment_header(
        2, SEG_SYMBOL_DICT, 1, len(sd2), refs=(1,)
    ) + bytes(sd2)
    body += _segment_header(
        3, SEG_TEXT_IMMEDIATE_LOSSLESS, 1, len(tr), refs=(2,)
    ) + bytes(tr)
    return bytes(body)


def encode_huffman_text_page(
    symbols,
    placements,
    width: int,
    height: int,
    collective: str = "uncompressed",
    custom_dw: bool = False,
    split_globals: bool = False,
    refinements: dict | None = None,
    fs_sel: int = 0,
    ds_sel: int = 0,
):
    """Author a HUFFMAN-coded symbol/text page (the second JBIG2
    entropy regime — §6.5/6.4 with SDHUFF=SBHUFF=1): symbol
    dictionary with per-height-class COLLECTIVE bitmaps
    (``collective``: "uncompressed" row-padded, or "mmr" T.6-coded),
    text region with runcode-built symbol ID codes and standard
    tables B.4/B.2/B.1 (dict) + B.11/B.6/B.8 (region).
    ``custom_dw`` routes the width deltas through a CUSTOM table
    segment (type 53) instead of B.2, exercising §7.4.13.

    ``fs_sel``/``ds_sel`` (round-9) pick the first-S and delta-S
    standard tables per §7.4.3.1.6: fs_sel 0/1 -> B.6/B.7, ds_sel
    0/1/2 -> B.8/B.9/B.10 — the fixture twin for the two tables
    that ship since round-9.

    ``refinements`` (round-8: the Huffman-REFINEMENT regime,
    §6.4.11) maps a placement index to ``(target_rows, rdx, rdy)``:
    that instance sets RI=1, encodes RDW/RDH/RDX/RDY through B.15
    and BMSIZE through B.1, byte-aligns, and embeds the
    MQ-arithmetic refinement of the symbol into ``target_rows``
    (template 0, nominal AT, fresh GR contexts). SBREFINE is set on
    the region and S-advances use the REFINED widths.

    Returns ``(data, globals)`` like :func:`encode_text_page`."""
    from pdf2dataset_spark.sources import ccitt
    from pdf2dataset_spark.sources import jbig2_huffman as jh

    symbols = [[bytearray(r) for r in s] for s in symbols]
    if not symbols or not placements:
        raise JBIG2Error("need at least one symbol and placement")
    order = sorted(range(len(symbols)),
                   key=lambda i: (len(symbols[i]), len(symbols[i][0])))
    table_seg = b""
    if custom_dw:
        # tiles [-16, 44) + lower/upper/OOB; Kraft-complete
        table_seg = jh.build_table_segment(
            [(2, 2), (2, 3), (3, 4), (3, 5)], -16, 44,
            lower_len=4, upper_len=4, oob_len=3,
        )
        tb_dw = jh.parse_table_segment(table_seg)
    else:
        tb_dw = jh.standard_table(2)
    tb_dh = jh.standard_table(4)
    tb_bm = jh.standard_table(1)
    bw = jh.BitWriter()
    hc_height = 0
    i = 0
    while i < len(order):
        hgt = len(symbols[order[i]])
        tb_dh.encode(bw, hgt - hc_height)
        hc_height = hgt
        group = []
        while i < len(order) and len(symbols[order[i]]) == hgt:
            group.append(order[i])
            i += 1
        sym_width = 0
        for si in group:
            wdt = len(symbols[si][0])
            tb_dw.encode(bw, wdt - sym_width)
            sym_width = wdt
        tb_dw.encode(bw, jh.OOB)
        tot = sum(len(symbols[si][0]) for si in group)
        coll = [bytearray() for _ in range(hgt)]
        for si in group:
            for yy in range(hgt):
                coll[yy] += symbols[si][yy]
        if collective == "mmr":
            px = bytes(
                0 if b else 255 for row in coll for b in row
            )
            data = ccitt.encode_g4(px, tot, hgt)
            tb_bm.encode(bw, len(data))
            bw.align()
            bw.raw_bytes(data)
        else:
            tb_bm.encode(bw, 0)
            bw.align()
            stride = (tot + 7) >> 3
            packed = bytearray(stride * hgt)
            for yy, row in enumerate(coll):
                base = yy * stride
                for xx, bit in enumerate(row):
                    if bit:
                        packed[base + (xx >> 3)] |= 0x80 >> (xx & 7)
            bw.raw_bytes(bytes(packed))
    tb_ex = jh.standard_table(1)
    tb_ex.encode(bw, 0)
    tb_ex.encode(bw, len(symbols))
    sd_flags = 1 | ((3 << 4) if custom_dw else 0)  # SDHUFF, DW sel
    sd = (struct.pack(">H", sd_flags)
          + struct.pack(">II", len(symbols), len(symbols))
          + bw.getvalue())
    # ---- text region (SBHUFF=1, strips=1, TOPLEFT, all std tables)
    exported_pos = {sym_i: k for k, sym_i in enumerate(order)}
    bw = jh.BitWriter()
    symtab = jh.write_symbol_id_codes(bw, len(symbols))
    tb_dt = jh.standard_table(11)
    if fs_sel not in (0, 1) or ds_sel not in (0, 1, 2):
        raise JBIG2Error("fs_sel/ds_sel out of range")
    tb_fs = jh.standard_table(6 + fs_sel)
    tb_ds = jh.standard_table(8 + ds_sel)
    refinements = refinements or {}
    tb_rd = jh.standard_table(15)
    tb_rsize = jh.standard_table(1)
    by_t: dict = {}
    for k, (sym_i, px_, py_) in enumerate(placements):
        by_t.setdefault(py_, []).append((px_, k, sym_i))
    tb_dt.encode(bw, 1)  # STRIPT value 1 → stript = -1
    stript = -1
    firsts = 0
    for t in sorted(by_t):
        tb_dt.encode(bw, t - stript)  # ≥ 1: B.11's floor
        stript = t
        xs = sorted(by_t[t])
        first_x = xs[0][0]
        tb_fs.encode(bw, first_x - firsts)
        firsts = first_x
        curs = firsts
        for j, (px_, k, sym_i) in enumerate(xs):
            if j:
                tb_ds.encode(bw, px_ - curs)
                curs = px_
            symtab.encode(bw, exported_pos[sym_i])
            inst_w = len(symbols[sym_i][0])
            spec = refinements.get(k)
            if refinements:
                bw.bit(1 if spec else 0)  # RI: one raw bit (§6.4.11)
            if spec:
                target, rdx, rdy = spec
                rdw = len(target[0]) - len(symbols[sym_i][0])
                rdh = len(target) - len(symbols[sym_i])
                for v in (rdw, rdh, rdx, rdy):
                    tb_rd.encode(bw, v)
                enc = MQEncoder()
                encode_refinement(
                    enc, {}, target, symbols[sym_i],
                    dx=(rdw >> 1) + rdx, dy=(rdh >> 1) + rdy,
                    template=0,
                )
                data = enc.flush()
                tb_rsize.encode(bw, len(data))
                bw.align()
                bw.raw_bytes(data)
                inst_w = len(target[0])
            curs += inst_w - 1
        tb_ds.encode(bw, jh.OOB)
    tr = bytearray(struct.pack(">IIII", width, height, 0, 0))
    tr.append(0)  # OR onto page
    # SBHUFF, TOPLEFT corner (+ SBREFINE with template-0 AT pixels
    # when any instance refines)
    tr += struct.pack(">H", 1 | (1 << 4) | (2 if refinements else 0))
    # Huffman flags: standard sel-0 everywhere; refined regions
    # select B.15 (sel 1) for RDW/RDH/RDX/RDY, B.1 (sel 0) for RSIZE
    tr += struct.pack(
        ">H",
        fs_sel | (ds_sel << 2)
        | ((1 << 6) | (1 << 8) | (1 << 10) | (1 << 12)
           if refinements else 0),
    )
    if refinements:
        tr += struct.pack(">bbbb", -1, -1, -1, -1)  # nominal GR AT
    tr += struct.pack(">I", len(placements))
    tr += bw.getvalue()
    page_info = (struct.pack(">IIII", width, height, 0, 0) + bytes([0])
                 + struct.pack(">H", 0))
    globals_body = bytearray()
    if custom_dw:
        globals_body += _segment_header(
            1, SEG_TABLES, 1, len(table_seg)
        ) + table_seg
    globals_body += _segment_header(
        2, SEG_SYMBOL_DICT, 1, len(sd), refs=(1,) if custom_dw else ()
    ) + bytes(sd)
    body = bytearray()
    body += _segment_header(0, SEG_PAGE_INFO, 1, len(page_info)) + page_info
    if not split_globals:
        body += globals_body
    body += _segment_header(
        3, SEG_TEXT_IMMEDIATE_LOSSLESS, 1, len(tr), refs=(2,)
    ) + bytes(tr)
    return bytes(body), (bytes(globals_body) if split_globals else None)
