"""CCITT Group 4 (ITU-T T.6) codec — THE fax/scan compression.

Real-world scanned PDFs overwhelmingly carry their page bitmaps as
/CCITTFaxDecode streams with ``/K < 0`` (pure two-dimensional MMR
coding per T.6). This module implements that decode — and a matching
encoder used for fixtures — with zero native deps, so scanned pages
flow into the embedded-image / OCR / pHash paths like JPEG ones do.

Implementation notes:
- Lines are represented by their **changing elements** (ascending
  pixel positions where the color flips; implicit white start), the
  representation T.6's vertical/pass/horizontal modes are defined
  over. The imaginary all-white reference line above row 0 is
  ``[columns, columns]``.
- Horizontal mode uses the T.4 modified-Huffman run-length tables
  (white/black terminating + makeup + shared extended makeup),
  transcribed below from the public standard. Encoder and decoder
  share one transcription, and the round-trip property is pinned by
  tests over adversarial bitmaps (all-white, all-black, single-pixel
  stripes, random noise, >2560-px runs).
- PDF parameter surface: ``Columns`` (default 1728), ``Rows``,
  ``BlackIs1`` (default False: 0-bits are BLACK per the PDF filter
  default), ``EncodedByteAlign`` (row starts on byte boundaries). All
  three ``K`` regimes decode: ``K < 0`` pure G4, ``K == 0`` G3
  one-dimensional MH, ``K > 0`` G3 mixed 2D (EOL + 1-bit tag framing
  per line, 1D and 2D rows interleaved per T.4 §4.2).

Scale note: decode runs inside Arrow-batched extraction UDFs; one
page decodes in O(columns x rows) python-int work, which the
mapInPandas fan-out parallelizes per document exactly like minipdf
text extraction.
"""

from __future__ import annotations

from bisect import bisect_right

#: Decode-size bound mirroring ``jbig2._check_dims`` / jpx's SIZ
#: guard: a crafted /CCITTFaxDecode stream must not multiply a tiny
#: payload into unbounded memory — V0-coded blank rows cost 1 bit
#: each, so attacker-controlled /Columns x implied-rows would
#: otherwise force ``_transitions_to_gray`` to materialize gigabytes.
#: 2^29 pixels == 512 MB of 8-bit gray, the same bound jbig2 uses.
_MAX_PIXELS = 1 << 29


def _check_pixel_budget(columns: int, n_rows: int) -> None:
    if columns * n_rows > _MAX_PIXELS:
        raise ValueError(
            f"CCITT decode {columns}x{n_rows} exceeds the "
            f"{_MAX_PIXELS}-pixel bound"
        )

# --------------------------------------------------------------- T.4 tables
# run length -> (code value, bit length); MSB-first codes.
_WHITE_TERM = {
    0: (0b00110101, 8), 1: (0b000111, 6), 2: (0b0111, 4), 3: (0b1000, 4),
    4: (0b1011, 4), 5: (0b1100, 4), 6: (0b1110, 4), 7: (0b1111, 4),
    8: (0b10011, 5), 9: (0b10100, 5), 10: (0b00111, 5), 11: (0b01000, 5),
    12: (0b001000, 6), 13: (0b000011, 6), 14: (0b110100, 6),
    15: (0b110101, 6), 16: (0b101010, 6), 17: (0b101011, 6),
    18: (0b0100111, 7), 19: (0b0001100, 7), 20: (0b0001000, 7),
    21: (0b0010111, 7), 22: (0b0000011, 7), 23: (0b0000100, 7),
    24: (0b0101000, 7), 25: (0b0101011, 7), 26: (0b0010011, 7),
    27: (0b0100100, 7), 28: (0b0011000, 7), 29: (0b00000010, 8),
    30: (0b00000011, 8), 31: (0b00011010, 8), 32: (0b00011011, 8),
    33: (0b00010010, 8), 34: (0b00010011, 8), 35: (0b00010100, 8),
    36: (0b00010101, 8), 37: (0b00010110, 8), 38: (0b00010111, 8),
    39: (0b00101000, 8), 40: (0b00101001, 8), 41: (0b00101010, 8),
    42: (0b00101011, 8), 43: (0b00101100, 8), 44: (0b00101101, 8),
    45: (0b00000100, 8), 46: (0b00000101, 8), 47: (0b00001010, 8),
    48: (0b00001011, 8), 49: (0b01010010, 8), 50: (0b01010011, 8),
    51: (0b01010100, 8), 52: (0b01010101, 8), 53: (0b00100100, 8),
    54: (0b00100101, 8), 55: (0b01011000, 8), 56: (0b01011001, 8),
    57: (0b01011010, 8), 58: (0b01011011, 8), 59: (0b01001010, 8),
    60: (0b01001011, 8), 61: (0b00110010, 8), 62: (0b00110011, 8),
    63: (0b00110100, 8),
}
_WHITE_MAKEUP = {
    64: (0b11011, 5), 128: (0b10010, 5), 192: (0b010111, 6),
    256: (0b0110111, 7), 320: (0b00110110, 8), 384: (0b00110111, 8),
    448: (0b01100100, 8), 512: (0b01100101, 8), 576: (0b01101000, 8),
    640: (0b01100111, 8), 704: (0b011001100, 9), 768: (0b011001101, 9),
    832: (0b011010010, 9), 896: (0b011010011, 9), 960: (0b011010100, 9),
    1024: (0b011010101, 9), 1088: (0b011010110, 9), 1152: (0b011010111, 9),
    1216: (0b011011000, 9), 1280: (0b011011001, 9), 1344: (0b011011010, 9),
    1408: (0b011011011, 9), 1472: (0b010011000, 9), 1536: (0b010011001, 9),
    1600: (0b010011010, 9), 1664: (0b011000, 6), 1728: (0b010011011, 9),
}
_BLACK_TERM = {
    0: (0b0000110111, 10), 1: (0b010, 3), 2: (0b11, 2), 3: (0b10, 2),
    4: (0b011, 3), 5: (0b0011, 4), 6: (0b0010, 4), 7: (0b00011, 5),
    8: (0b000101, 6), 9: (0b000100, 6), 10: (0b0000100, 7),
    11: (0b0000101, 7), 12: (0b0000111, 7), 13: (0b00000100, 8),
    14: (0b00000111, 8), 15: (0b000011000, 9), 16: (0b0000010111, 10),
    17: (0b0000011000, 10), 18: (0b0000001000, 10),
    19: (0b00001100111, 11), 20: (0b00001101000, 11),
    21: (0b00001101100, 11), 22: (0b00000110111, 11),
    23: (0b00000101000, 11), 24: (0b00000010111, 11),
    25: (0b00000011000, 11), 26: (0b000011001010, 12),
    27: (0b000011001011, 12), 28: (0b000011001100, 12),
    29: (0b000011001101, 12), 30: (0b000001101000, 12),
    31: (0b000001101001, 12), 32: (0b000001101010, 12),
    33: (0b000001101011, 12), 34: (0b000011010010, 12),
    35: (0b000011010011, 12), 36: (0b000011010100, 12),
    37: (0b000011010101, 12), 38: (0b000011010110, 12),
    39: (0b000011010111, 12), 40: (0b000001101100, 12),
    41: (0b000001101101, 12), 42: (0b000011011010, 12),
    43: (0b000011011011, 12), 44: (0b000001010100, 12),
    45: (0b000001010101, 12), 46: (0b000001010110, 12),
    47: (0b000001010111, 12), 48: (0b000001100100, 12),
    49: (0b000001100101, 12), 50: (0b000001010010, 12),
    51: (0b000001010011, 12), 52: (0b000000100100, 12),
    53: (0b000000110111, 12), 54: (0b000000111000, 12),
    55: (0b000000100111, 12), 56: (0b000000101000, 12),
    57: (0b000001011000, 12), 58: (0b000001011001, 12),
    59: (0b000000101011, 12), 60: (0b000000101100, 12),
    61: (0b000001011010, 12), 62: (0b000001100110, 12),
    63: (0b000001100111, 12),
}
_BLACK_MAKEUP = {
    64: (0b0000001111, 10), 128: (0b000011001000, 12),
    192: (0b000011001001, 12), 256: (0b000001011011, 12),
    320: (0b000000110011, 12), 384: (0b000000110100, 12),
    448: (0b000000110101, 12), 512: (0b0000001101100, 13),
    576: (0b0000001101101, 13), 640: (0b0000001001010, 13),
    704: (0b0000001001011, 13), 768: (0b0000001001100, 13),
    832: (0b0000001001101, 13), 896: (0b0000001110010, 13),
    960: (0b0000001110011, 13), 1024: (0b0000001110100, 13),
    1088: (0b0000001110101, 13), 1152: (0b0000001110110, 13),
    1216: (0b0000001110111, 13), 1280: (0b0000001010010, 13),
    1344: (0b0000001010011, 13), 1408: (0b0000001010100, 13),
    1472: (0b0000001010101, 13), 1536: (0b0000001011010, 13),
    1600: (0b0000001011011, 13), 1664: (0b0000001100100, 13),
    1728: (0b0000001100101, 13),
}
# extended makeup codes, shared by both colors (T.4 Table 3)
_EXT_MAKEUP = {
    1792: (0b00000001000, 11), 1856: (0b00000001100, 11),
    1920: (0b00000001101, 11), 1984: (0b000000010010, 12),
    2048: (0b000000010011, 12), 2112: (0b000000010100, 12),
    2176: (0b000000010101, 12), 2240: (0b000000010110, 12),
    2304: (0b000000010111, 12), 2368: (0b000000011100, 12),
    2432: (0b000000011101, 12), 2496: (0b000000011110, 12),
    2560: (0b000000011111, 12),
}


def _decode_table(*tables: dict) -> dict[tuple[int, int], int]:
    """(bit length, code) -> run length, merged across tables."""
    out: dict[tuple[int, int], int] = {}
    for t in tables:
        for run, (code, ln) in t.items():
            key = (ln, code)
            if key in out:  # pragma: no cover - table sanity
                raise AssertionError(f"duplicate code {key}")
            out[key] = run
    return out


_WHITE_DEC = _decode_table(_WHITE_TERM, _WHITE_MAKEUP, _EXT_MAKEUP)
_BLACK_DEC = _decode_table(_BLACK_TERM, _BLACK_MAKEUP, _EXT_MAKEUP)


def _run_lut(dec: dict) -> list:
    """Dense 13-bit-peek LUT: index = the next 13 bits (zero-padded
    past stream end), value = ``(run, code_length)`` of the unique
    prefix-free match, or None (no run code within 13 bits)."""
    lut: list = [None] * 8192
    for (ln, code), run in dec.items():
        shift = 13 - ln
        base = code << shift
        for k in range(1 << shift):
            if lut[base + k] is not None:  # pragma: no cover
                raise AssertionError("run codes not prefix-free")
            lut[base + k] = (run, ln)
    return lut


_WHITE_LUT = _run_lut(_WHITE_DEC)
_BLACK_LUT = _run_lut(_BLACK_DEC)

# 2D mode codes (T.4 table 4 / T.6): 7-bit-peek LUT -> (kind, dv,
# code_length). The two unassigned prefixes (000000x) stay None —
# the per-bit reference walk declared them invalid after 6 reads.
_MODE_LUT: list = [None] * 128
for _code, _ln, _kind, _dv in (
    (0b1, 1, "v", 0),
    (0b011, 3, "v", 1),
    (0b010, 3, "v", -1),
    (0b001, 3, "h", 0),
    (0b0001, 4, "p", 0),
    (0b000011, 6, "v", 2),
    (0b000010, 6, "v", -2),
    (0b0000011, 7, "v", 3),
    (0b0000010, 7, "v", -3),
):
    for _k in range(1 << (7 - _ln)):
        _MODE_LUT[(_code << (7 - _ln)) + _k] = (_kind, _dv, _ln)
del _code, _ln, _kind, _dv, _k


class _Bits:
    """MSB-first bit reader with byte-align support. Hot paths peek
    a whole code (zero-padded past the end) and consume its length;
    callers re-create the per-bit reader's truncation errors by
    checking the consumed length against ``nbits``."""

    __slots__ = ("data", "bitpos", "nbits")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.bitpos = 0
        self.nbits = 8 * len(data)

    def eof(self) -> bool:
        return self.bitpos >= self.nbits

    def read(self) -> int:
        if self.bitpos >= self.nbits:
            raise ValueError("CCITT stream truncated")
        b = self.data[self.bitpos >> 3]
        bit = (b >> (7 - (self.bitpos & 7))) & 1
        self.bitpos += 1
        return bit

    def peek(self, n: int) -> int:
        """Next ``n`` (<= 20) bits MSB-first, zero-padded past the
        stream end; does not advance."""
        bp = self.bitpos
        byte = bp >> 3
        chunk = self.data[byte:byte + 4]
        if len(chunk) < 4:
            chunk = chunk + b"\x00" * (4 - len(chunk))
        word = int.from_bytes(chunk, "big")
        return (word >> (32 - (bp & 7) - n)) & ((1 << n) - 1)

    def peek_is_eofb_or_end(self) -> bool:
        """True at stream end or at an EOL prefix (000000000001 —
        T.6 uses two of them as EOFB)."""
        rem = self.nbits - self.bitpos
        if rem <= 0:
            return True
        if rem < 12:
            # the per-bit walk hit EOF (-> True) unless a 1 appeared
            # among the remaining bits first
            return self.peek(rem) == 0
        v = self.peek(12)
        return (v >> 1) == 0 and (v & 1) == 1

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7


class _BitsOut:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, ln: int) -> None:
        self._acc = (self._acc << ln) | (code & ((1 << ln) - 1))
        self._n += ln
        while self._n >= 8:
            self.out.append((self._acc >> (self._n - 8)) & 0xFF)
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def align(self) -> None:
        if self._n:
            self.write(0, 8 - self._n)  # 0-fill to byte boundary

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


def _read_run(bits: _Bits, table: dict, color_name: str) -> int:
    """One MH run: makeup codes (multiples of 64) accumulate until a
    terminating code (< 64) ends the run. Codes resolve with one
    13-bit peek against the dense LUT; the per-bit walk's truncation
    error is re-created whenever a match (or the 14-bit invalid-code
    read) would cross the stream end."""
    if table is _WHITE_DEC:
        lut = _WHITE_LUT
    elif table is _BLACK_DEC:
        lut = _BLACK_LUT
    else:
        # some third table would decode as silent garbage with the
        # black LUT; an explicit raise also survives ``python -O``
        raise ValueError("unknown CCITT run table")
    nbits = bits.nbits
    total = 0
    while True:
        hit = lut[bits.peek(13)]
        if hit is None:
            # the reference walk read 14 bits before declaring the
            # code invalid; EOF inside those reads was 'truncated'
            if nbits - bits.bitpos < 14:
                raise ValueError("CCITT stream truncated")
            raise ValueError(f"invalid CCITT {color_name} run code")
        run, ln = hit
        if bits.bitpos + ln > nbits:
            raise ValueError("CCITT stream truncated")
        bits.bitpos += ln
        total += run
        if run < 64:
            return total


def _write_run(bw: _BitsOut, run: int, term: dict, makeup: dict) -> None:
    while run >= 2624:  # largest extended makeup is 2560
        code, ln = _EXT_MAKEUP[2560]
        bw.write(code, ln)
        run -= 2560
    if run >= 64:
        mk = (run // 64) * 64
        if mk > 1728:
            code, ln = _EXT_MAKEUP[mk]
        else:
            code, ln = makeup[mk]
        bw.write(code, ln)
        run -= mk
    code, ln = term[run]
    bw.write(code, ln)


def _b1_index(ref: list[int], a0: int, color: int) -> int:
    """Index into ``ref`` of b1: the first changing element > a0 whose
    color transition is opposite to the current ``color`` (white=0 →
    even indices change white→black)."""
    i = bisect_right(ref, a0)
    if (i & 1) != color:
        i += 1
    return i


def decode_g4(
    data: bytes,
    columns: int,
    rows: int | None = None,
    byte_align: bool = False,
) -> list[list[int]]:
    """Decode a pure-G4 (T.6, /K < 0) stream into per-row changing-
    element lists (ascending positions where color flips; rows start
    white). Stops after ``rows`` rows when given, else at EOFB/end of
    data."""
    if columns <= 0:
        raise ValueError("CCITT Columns must be positive")
    if rows is not None:
        _check_pixel_budget(columns, rows)
    bits = _Bits(data)
    ref = [columns, columns]
    out: list[list[int]] = []
    while rows is None or len(out) < rows:
        if byte_align:
            bits.align()
        if bits.eof() or bits.peek_is_eofb_or_end():
            if rows is not None:
                raise ValueError(
                    f"CCITT stream ended after {len(out)} of {rows} rows"
                )
            break
        _check_pixel_budget(columns, len(out) + 1)
        cur = _decode_2d_line(bits, ref, columns)
        out.append(cur)
        ref = cur + [columns, columns]
    return out


def _decode_2d_line(bits: _Bits, ref: list[int], columns: int) -> list[int]:
    """One two-dimensionally coded line (shared by T.6 G4 and T.4
    mixed-mode 2D rows): vertical/pass/horizontal modes against the
    reference line's changing elements."""
    cur: list[int] = []
    a0 = -1  # imaginary element just before pixel 0
    color = 0  # white
    nbits = bits.nbits
    mode_lut = _MODE_LUT
    while (a0 if a0 > 0 else 0) < columns:
        bi = _b1_index(ref, a0, color)
        b1 = ref[bi] if bi < len(ref) else columns
        b2 = ref[bi + 1] if bi + 1 < len(ref) else columns
        # mode code: one 7-bit peek against the LUT
        hit = mode_lut[bits.peek(7)]
        if hit is None:
            # '000000' prefix: the per-bit walk read 6 bits before
            # declaring it invalid; EOF inside those was 'truncated'
            if nbits - bits.bitpos < 6:
                raise ValueError("CCITT stream truncated")
            raise ValueError("invalid CCITT G4 mode code")
        kind, dv, ln = hit
        if bits.bitpos + ln > nbits:
            raise ValueError("CCITT stream truncated")
        bits.bitpos += ln
        if kind == "p":
            a0 = b2
            continue
        if kind == "v":
            a1 = b1 + dv
            if not 0 <= a1 <= columns:
                raise ValueError("CCITT vertical move out of line")
            cur.append(a1)
            a0 = a1
            color ^= 1
            continue
        # horizontal: two runs in current color then the opposite
        start = a0 if a0 > 0 else 0
        run1 = _read_run(
            bits, _WHITE_DEC if color == 0 else _BLACK_DEC,
            "white" if color == 0 else "black",
        )
        run2 = _read_run(
            bits, _BLACK_DEC if color == 0 else _WHITE_DEC,
            "black" if color == 0 else "white",
        )
        a1 = start + run1
        a2 = a1 + run2
        if a2 > columns:
            raise ValueError("CCITT horizontal runs overflow the line")
        cur.append(a1)
        cur.append(a2)
        a0 = a2
    for i, t in enumerate(cur):  # strictly ascending sanity
        if t > columns or (i and t < cur[i - 1]):
            raise ValueError("CCITT changing elements out of order")
    return cur


def _transitions_to_gray(
    lines: list[list[int]], columns: int, black_is_1: bool = False
) -> bytes:
    """Changing-element rows -> 8-bit grayscale (black=0, white=255).
    ``black_is_1`` only matters for PACKED output; gray pixels always
    render ink as dark."""
    px = bytearray()
    for cur in lines:
        row = bytearray(columns)  # zero-initialized = black
        pos = 0
        color = 0
        for t in cur + [columns]:
            if color == 0:  # white run: C-level slice fill
                e = t if t < columns else columns
                if e > pos:
                    row[pos:e] = b"\xff" * (e - pos)
            pos = t
            color ^= 1
        px += row
    return bytes(px)


def decode_g4_gray(
    data: bytes,
    columns: int,
    rows: int | None = None,
    byte_align: bool = False,
    black_is_1: bool = False,
) -> tuple[int, int, bytes]:
    """G4 stream -> (columns, n_rows, 8-bit gray pixels, black=0)."""
    lines = decode_g4(data, columns, rows, byte_align)
    return columns, len(lines), _transitions_to_gray(lines, columns, black_is_1)


def _skip_eols(bits: _Bits) -> bool:
    """Consume any EOL codes (11+ zeros then a 1) and the fill bits
    preceding them at the current position. Returns False when only
    zero padding (or nothing) remains — i.e. end of image data."""
    while True:
        save = bits.bitpos
        zeros = 0
        while True:
            if bits.eof():
                return False  # trailing zero padding only
            if bits.read() == 1:
                break
            zeros += 1
            if zeros > 4096:
                return False  # degenerate zero run: treat as end
        if zeros >= 11:
            continue  # EOL consumed; RTC is just six of these
        bits.bitpos = save  # start of a real code — rewind
        return True


def decode_g3_1d(
    data: bytes,
    columns: int,
    rows: int | None = None,
    byte_align: bool = False,
) -> list[list[int]]:
    """Decode a Group 3 one-dimensional (T.4 MH, PDF ``/K 0``) stream
    into per-row changing-element lists. Rows are runs of alternating
    color starting white, each exactly ``columns`` pixels; EOL codes
    (optional in PDF K=0 streams) and trailing RTC are consumed."""
    if columns <= 0:
        raise ValueError("CCITT Columns must be positive")
    if rows is not None:
        _check_pixel_budget(columns, rows)
    bits = _Bits(data)
    out: list[list[int]] = []
    while rows is None or len(out) < rows:
        if byte_align:
            bits.align()
        if not _skip_eols(bits):
            break
        _check_pixel_budget(columns, len(out) + 1)
        try:
            cur = _decode_1d_line(bits, columns)
        except ValueError as e:
            if rows is None and not getattr(e, "ccitt_progress", 0):
                break  # garbage after the last row: end of data
            raise
        out.append(cur)
    if rows is not None and len(out) < rows:
        raise ValueError(f"CCITT stream ended after {len(out)} of {rows} rows")
    return out


def _decode_1d_line(bits: _Bits, columns: int) -> list[int]:
    """One one-dimensionally coded line (T.4 MH): alternating color
    runs starting white, totalling exactly ``columns``. On failure the
    raised ValueError carries ``ccitt_progress`` = number of changing
    elements already decoded (0 ⇒ the line never started — callers in
    unbounded mode treat that as end of data)."""
    cur: list[int] = []
    pos = 0
    color = 0
    try:
        while pos < columns:
            run = _read_run(
                bits,
                _WHITE_DEC if color == 0 else _BLACK_DEC,
                "white" if color == 0 else "black",
            )
            pos += run
            if pos > columns:
                raise ValueError("G3 1D run overflows the line")
            if pos < columns:
                cur.append(pos)
            color ^= 1
    except ValueError as e:
        e.ccitt_progress = len(cur)
        raise
    return cur


def _read_eol_tag(bits: _Bits) -> int | None:
    """Consume fill zeros plus one EOL (>= 11 zeros then a 1) and
    return the 1-bit mode tag that follows it in T.4 mixed (K > 0)
    streams (1 ⇒ next line 1D, 0 ⇒ 2D). Returns None at end of data
    (trailing padding / truncation)."""
    zeros = 0
    while True:
        if bits.eof():
            return None
        if bits.read() == 1:
            break
        zeros += 1
        if zeros > 4096:
            return None  # degenerate zero run: treat as end
    if zeros < 11:
        raise ValueError("expected CCITT EOL before mixed-mode line")
    if bits.eof():
        return None
    return bits.read()


def _peek_eol(bits: _Bits) -> bool:
    """True when the next non-fill content is an EOL (>= 11 zeros then
    a 1, tolerating byte-align fill) or the stream is exhausted. No MH
    run or 2D mode code has more than 7 leading zeros, so the
    threshold is unambiguous."""
    save = bits.bitpos
    try:
        zeros = 0
        while True:
            if bits.eof():
                return True
            if bits.read() == 1:
                return zeros >= 11
            zeros += 1
            if zeros > 4096:
                return True
    finally:
        bits.bitpos = save


def decode_g3_2d(
    data: bytes,
    columns: int,
    rows: int | None = None,
    byte_align: bool = False,
) -> list[list[int]]:
    """Decode a Group 3 mixed two-dimensional stream (T.4 §4.2, PDF
    ``/K > 0``): every line is framed by EOL + a 1-bit tag choosing
    MH 1D or 2D coding for that line; 2D lines use the same
    vertical/pass/horizontal modes as G4 against the previous line.
    RTC (consecutive EOLs) or end of data terminates. The K value
    itself only bounds how often encoders must emit 1D lines — the
    decoder just follows the per-line tags."""
    if columns <= 0:
        raise ValueError("CCITT Columns must be positive")
    if rows is not None:
        _check_pixel_budget(columns, rows)
    bits = _Bits(data)
    ref = [columns, columns]
    out: list[list[int]] = []
    while rows is None or len(out) < rows:
        if byte_align:
            bits.align()
        tag = _read_eol_tag(bits)
        if tag is None or _peek_eol(bits):
            break  # RTC (EOLs back to back) or trailing padding
        _check_pixel_budget(columns, len(out) + 1)
        if tag:
            cur = _decode_1d_line(bits, columns)
        else:
            cur = _decode_2d_line(bits, ref, columns)
        out.append(cur)
        ref = cur + [columns, columns]
    if rows is not None and len(out) < rows:
        raise ValueError(f"CCITT stream ended after {len(out)} of {rows} rows")
    return out


def encode_g3_1d(
    px: bytes,
    columns: int,
    rows: int,
    byte_align: bool = False,
    with_eol: bool = False,
) -> bytes:
    """Encode 8-bit gray pixels (dark = black) as a G3 1D (T.4 MH,
    /K 0) stream — fixture/round-trip counterpart of
    :func:`decode_g3_1d`."""
    lines = _gray_to_transitions(px, columns, rows)
    bw = _BitsOut()
    for cur in lines:
        if byte_align:
            bw.align()
        if with_eol:
            bw.write(0b000000000001, 12)
        _encode_1d_line(bw, cur, columns)
    return bw.flush()


def _encode_1d_line(bw: _BitsOut, cur: list[int], columns: int) -> None:
    pos = 0
    color = 0
    for t in cur + [columns]:
        run = t - pos
        if color == 0:
            _write_run(bw, run, _WHITE_TERM, _WHITE_MAKEUP)
        else:
            _write_run(bw, run, _BLACK_TERM, _BLACK_MAKEUP)
        pos = t
        color ^= 1
        if pos == columns:
            break


def encode_g3_2d(
    px: bytes,
    columns: int,
    rows: int,
    k: int = 4,
    byte_align: bool = False,
) -> bytes:
    """Encode 8-bit gray pixels as a T.4 mixed two-dimensional stream
    (PDF ``/K k`` with k > 0): every line framed by EOL + tag, one
    1D-coded line followed by at most k-1 2D-coded lines (the fax
    K-factor limiting error propagation), RTC at the end. Fixture /
    round-trip counterpart of :func:`decode_g3_2d`."""
    if k <= 0:
        raise ValueError("encode_g3_2d requires k > 0")
    lines = _gray_to_transitions(px, columns, rows)
    bw = _BitsOut()
    ref = [columns, columns]
    for i, cur in enumerate(lines):
        if byte_align:
            bw.align()
        one_d = i % k == 0
        bw.write(0b000000000001, 12)  # EOL
        bw.write(1 if one_d else 0, 1)  # mode tag
        if one_d:
            _encode_1d_line(bw, cur, columns)
        else:
            _encode_2d_line(bw, cur, ref, columns)
        ref = cur + [columns, columns]
    for _ in range(6):  # RTC
        if byte_align:
            bw.align()  # the decoder aligns before seeking each EOL
        bw.write(0b000000000001, 12)
        bw.write(1, 1)
    return bw.flush()


def decode_ccitt_gray(
    data: bytes,
    k: int,
    columns: int,
    rows: int | None = None,
    byte_align: bool = False,
) -> tuple[int, int, bytes]:
    """/CCITTFaxDecode dispatch: ``k < 0`` → pure G4 (T.6), ``k == 0``
    → G3 one-dimensional (T.4 MH), ``k > 0`` → G3 mixed 2D (T.4 §4.2,
    EOL+tag framed lines). Returns (columns, n_rows, 8-bit gray
    pixels, black=0)."""
    if k < 0:
        lines = decode_g4(data, columns, rows, byte_align)
    elif k == 0:
        lines = decode_g3_1d(data, columns, rows, byte_align)
    else:
        lines = decode_g3_2d(data, columns, rows, byte_align)
    return columns, len(lines), _transitions_to_gray(lines, columns)


def _gray_to_transitions(px: bytes, columns: int, rows: int) -> list[list[int]]:
    """8-bit gray (threshold 128: dark = ink/black) -> changing rows."""
    out = []
    for r in range(rows):
        row = px[r * columns : (r + 1) * columns]
        cur = []
        color = 0  # white
        for i, v in enumerate(row):
            c = 1 if v < 128 else 0
            if c != color:
                cur.append(i)
                color = c
        out.append(cur)
    return out


def encode_g4(
    px: bytes,
    columns: int,
    rows: int,
    byte_align: bool = False,
    with_eofb: bool = True,
) -> bytes:
    """Encode 8-bit gray pixels (dark = black) as a pure-G4 stream —
    the T.6 coder: PASS when b2 < a1, VERTICAL when |a1-b1| <= 3,
    else HORIZONTAL with MH run codes. Used for fixtures and the
    round-trip property tests."""
    lines = _gray_to_transitions(px, columns, rows)
    bw = _BitsOut()
    ref = [columns, columns]
    for cur in lines:
        if byte_align:
            bw.align()
        _encode_2d_line(bw, cur, ref, columns)
        ref = cur + [columns, columns]
    if with_eofb:
        if byte_align:
            bw.align()  # the decoder aligns before looking for EOFB
        bw.write(0b000000000001, 12)
        bw.write(0b000000000001, 12)
    return bw.flush()


def _encode_2d_line(
    bw: _BitsOut, cur: list[int], ref: list[int], columns: int
) -> None:
    """T.6/T.4-2D coder for one line: PASS when b2 < a1, VERTICAL when
    |a1-b1| <= 3, else HORIZONTAL with MH run codes."""
    a0 = -1
    color = 0
    ci = 0  # index of next changing element in cur
    while (a0 if a0 > 0 else 0) < columns:
        a1 = cur[ci] if ci < len(cur) else columns
        bi = _b1_index(ref, a0, color)
        b1 = ref[bi] if bi < len(ref) else columns
        b2 = ref[bi + 1] if bi + 1 < len(ref) else columns
        if b2 < a1:
            bw.write(0b0001, 4)  # pass
            a0 = b2
            continue
        if abs(a1 - b1) <= 3:
            d = a1 - b1
            code, ln = {
                0: (0b1, 1),
                1: (0b011, 3), 2: (0b000011, 6), 3: (0b0000011, 7),
                -1: (0b010, 3), -2: (0b000010, 6), -3: (0b0000010, 7),
            }[d]
            bw.write(code, ln)
            a0 = a1
            color ^= 1
            ci += 1
            continue
        # horizontal
        a2 = cur[ci + 1] if ci + 1 < len(cur) else columns
        start = a0 if a0 > 0 else 0
        bw.write(0b001, 3)
        if color == 0:
            _write_run(bw, a1 - start, _WHITE_TERM, _WHITE_MAKEUP)
            _write_run(bw, a2 - a1, _BLACK_TERM, _BLACK_MAKEUP)
        else:
            _write_run(bw, a1 - start, _BLACK_TERM, _BLACK_MAKEUP)
            _write_run(bw, a2 - a1, _WHITE_TERM, _WHITE_MAKEUP)
        a0 = a2
        ci += 2
