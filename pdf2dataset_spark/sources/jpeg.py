"""Baseline JPEG codec (no native deps).

Upstream renders page images through pdf2image/poppler, which can emit
JPEG; this container has no native imaging stack, so `image_format=
"jpeg"` previously required an optional import. This module closes the
gap with a self-contained baseline-DCT JFIF encoder and decoder: 8x8
(F)DCT via numpy matrix products, Annex-K quantization scaled by
`quality`, and canonical Huffman tables written INTO the stream
(DQT/DHT), so any spec-compliant reader decodes the output regardless
of the specific table constants.

Scope:
- **encode**: grayscale (1 component — what the text raster produces)
  and RGB color (3 components, JFIF YCbCr, 4:4:4), as baseline
  (:func:`encode_jpeg`) or progressive (:func:`encode_jpeg_progressive`
  — SOF2 with spectral selection AND successive approximation; both
  encoders share the same quantized coefficients, so their decodes
  are bit-identical, which is the test oracle).
- **decode**: baseline / extended sequential (single- or multi-scan)
  AND progressive (T.81 Annex G: DC/AC first + refinement passes,
  EOB runs) — 1, 3 or 4 (Adobe CMYK/YCCK) components, any
  per-component sampling factors up to 2x2 (4:4:4 / 4:2:2 / 4:2:0),
  8-bit AND 12-BIT sample precision (gray/RGB; 16-bit DQT elements,
  2^11 level shift, output rescaled to 8-bit), multiple DQT/DHT
  tables per segment, restart intervals (DRI/RSTn), APPn/COM
  segments skipped. This covers virtually every embedded /DCTDecode
  photo, including the web-era progressive ones and archival 12-bit
  scans. LOSSLESS JPEG (SOF3, Annex H) decodes too: prediction
  differences, predictors 1-7, point transform, 2-16 bit precision
  (the DICOM export shape). Hierarchical/arithmetic coding raise
  named errors. :func:`encode_jpeg12_gray` and
  :func:`encode_jpeg_lossless` author the fixtures.
"""

from __future__ import annotations

import struct

import numpy as np

#: Decode-size bound mirroring jpx's SIZ guard and jbig2's
#: ``_check_dims``: SOF declares w/h up to 65535x65535, which would
#: pre-allocate ~17 GB of int32 coefficients per component from a
#: tiny header. 2^27 pixels x ncomp caps the working set at ~512 MB.
_MAX_PIXELS = 1 << 27


def _check_sof_budget(w: int, h: int, ncomp: int) -> None:
    if w <= 0 or h <= 0 or w * h * max(ncomp, 1) > _MAX_PIXELS:
        raise ValueError(
            f"JPEG frame {w}x{h}x{ncomp} exceeds the {_MAX_PIXELS}-"
            "pixel decode bound"
        )

# Annex K luminance quantization matrix (quality 50 base).
_QUANT_BASE = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.float64,
)

# Standard luminance Huffman specs: (bits-per-length[1..16], symbols).
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Annex K chroma quantization matrix (quality 50 base).
_QUANT_BASE_C = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.float64,
)

# Standard chroma Huffman specs (ITU-T T.81 Table K.4/K.6).
_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_VALS_C = list(range(12))
_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


# zigzag order: _ZIGZAG[i] = flat index (r*8+c) of the i-th coefficient.
def _zigzag_order() -> list[int]:
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (
            rc[0] + rc[1],
            rc[1] if (rc[0] + rc[1]) % 2 else rc[0],
        ),
    )
    return [r * 8 + c for r, c in order]


_ZIGZAG = _zigzag_order()

# Orthonormal 8-point DCT-II matrix: FDCT = M @ block @ M.T.
def _dct_matrix() -> np.ndarray:
    m = np.zeros((8, 8))
    for u in range(8):
        cu = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            m[u, x] = cu * np.cos((2 * x + 1) * u * np.pi / 16)
    return m


_DCT_M = _dct_matrix()


def _quant_table(quality: int) -> np.ndarray:
    """libjpeg-compatible quality scaling of the Annex K base table."""
    q = min(100, max(1, quality))
    scale = 5000 / q if q < 50 else 200 - 2 * q
    tbl = np.floor((_QUANT_BASE * scale + 50) / 100)
    return np.clip(tbl, 1, 255)


def _quant_table_chroma(quality: int) -> np.ndarray:
    q = min(100, max(1, quality))
    scale = 5000 / q if q < 50 else 200 - 2 * q
    tbl = np.floor((_QUANT_BASE_C * scale + 50) / 100)
    return np.clip(tbl, 1, 255)


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: symbol -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_DC_CODES = _build_codes(_DC_BITS, _DC_VALS)
_AC_CODES = _build_codes(_AC_BITS, _AC_VALS)
_DC_CODES_C = _build_codes(_DC_BITS_C, _DC_VALS_C)
_AC_CODES_C = _build_codes(_AC_BITS_C, _AC_VALS_C)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            b = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # 1-pad to byte boundary


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _amplitude_bits(v: int, cat: int) -> int:
    # negative values: one's-complement representation per spec
    return v if v >= 0 else v + (1 << cat) - 1


def _segment(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def _plane_to_zz(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """(ph, pw) centered plane -> (n_blocks, 64) quantized zigzag rows
    in raster block order."""
    ph, pw = plane.shape
    blocks = (
        plane.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )
    coeffs = _DCT_M @ blocks @ _DCT_M.T
    quant = np.round(coeffs / qt).astype(np.int32)
    return quant.reshape(-1, 64)[:, _ZIGZAG]


def _write_block(bw: _BitWriter, blk, prev_dc: int, dc_codes, ac_codes) -> int:
    """Entropy-encode one zigzag block; returns the block's DC."""
    dc = int(blk[0])
    diff = dc - prev_dc
    cat = _category(diff)
    code, ln = dc_codes[cat]
    bw.write(code, ln)
    if cat:
        bw.write(_amplitude_bits(diff, cat), cat)
    run = 0
    last_nz = int(np.max(np.nonzero(blk)[0])) if np.any(blk[1:]) else 0
    for i in range(1, last_nz + 1):
        v = int(blk[i])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        cat = _category(v)
        code, ln = ac_codes[(run << 4) | cat]
        bw.write(code, ln)
        bw.write(_amplitude_bits(v, cat), cat)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)
    return dc


def _pad_plane(img: np.ndarray, h: int, w: int) -> np.ndarray:
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    return np.pad(
        img.astype(np.float64) - 128.0,
        ((0, ph - h), (0, pw - w)),
        mode="edge",  # edge replication: spec-standard padding choice
    )


def _quantized_components(
    w: int, h: int, px: bytes, quality: int, ncomp: int
):
    """The encoders' shared front half: quantized zigzag coefficient
    rows per component (raster block order) + the quant tables. Both
    the baseline and the progressive encoder call this, so the SAME
    pixels+quality yield the SAME coefficients — their decodes are
    bit-identical."""
    qt_l = _quant_table(quality)
    if ncomp == 1:
        img = np.frombuffer(bytes(px), dtype=np.uint8).reshape(h, w)
        return [_plane_to_zz(_pad_plane(img, h, w), qt_l)], qt_l, None
    qt_c = _quant_table_chroma(quality)
    rgb = (
        np.frombuffer(bytes(px), dtype=np.uint8)
        .reshape(h, w, 3)
        .astype(np.float64)
    )
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,  # Y
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,  # Cb
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,  # Cr
    ]
    zzs = [
        _plane_to_zz(
            _pad_plane(np.clip(np.round(p), 0, 255).astype(np.uint8), h, w),
            qt_l if i == 0 else qt_c,
        )
        for i, p in enumerate(planes)
    ]
    return zzs, qt_l, qt_c


def encode_jpeg(
    w: int, h: int, px: bytes, quality: int = 85, ncomp: int = 1,
    adobe_transform: int = 0,
) -> bytes:
    """Encode an 8-bit image (row-major ``px``) as baseline JFIF.
    ``ncomp=1``: grayscale. ``ncomp=3``: interleaved RGB, written as
    JFIF YCbCr 4:4:4 (luma tables id 0, chroma id 1 — the canonical
    color layout). ``ncomp=4``: interleaved PLAIN CMYK, written
    Adobe-style (APP14 transform 0, channels stored INVERTED — the
    Photoshop convention real print PDFs carry; pass
    ``adobe_transform=2`` for the YCCK variant). Deterministic: same
    pixels + quality -> same bytes."""
    if ncomp not in (1, 3, 4):
        raise ValueError("ncomp must be 1 (gray), 3 (RGB) or 4 (CMYK)")
    if ncomp == 4:
        return _encode_jpeg_cmyk(w, h, px, quality, adobe_transform)
    if ncomp == 1:
        (zz,), qt_l, _ = _quantized_components(w, h, px, quality, 1)
        bw = _BitWriter()
        prev_dc = 0
        for blk in zz:
            prev_dc = _write_block(bw, blk, prev_dc, _DC_CODES, _AC_CODES)
        bw.flush()
        qt_zz = qt_l.reshape(-1)[_ZIGZAG].astype(np.uint8)
        return b"".join(
            [
                b"\xff\xd8",
                _segment(
                    0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
                ),
                _segment(0xFFDB, b"\x00" + qt_zz.tobytes()),
                _segment(
                    0xFFC0,
                    struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]),
                ),
                _segment(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)),
                _segment(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)),
                _segment(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0])),
                bytes(bw.out),
                b"\xff\xd9",
            ]
        )

    zzs, qt_l, qt_c = _quantized_components(w, h, px, quality, 3)
    bw = _BitWriter()
    prev = [0, 0, 0]
    for m in range(zzs[0].shape[0]):  # 4:4:4 -> one block/component/MCU
        prev[0] = _write_block(bw, zzs[0][m], prev[0], _DC_CODES, _AC_CODES)
        prev[1] = _write_block(bw, zzs[1][m], prev[1], _DC_CODES_C, _AC_CODES_C)
        prev[2] = _write_block(bw, zzs[2][m], prev[2], _DC_CODES_C, _AC_CODES_C)
    bw.flush()
    qtl_zz = qt_l.reshape(-1)[_ZIGZAG].astype(np.uint8)
    qtc_zz = qt_c.reshape(-1)[_ZIGZAG].astype(np.uint8)
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    return b"".join(
        [
            b"\xff\xd8",
            _segment(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"),
            _segment(0xFFDB, b"\x00" + qtl_zz.tobytes()),
            _segment(0xFFDB, b"\x01" + qtc_zz.tobytes()),
            _segment(0xFFC0, sof),
            _segment(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)),
            _segment(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)),
            _segment(
                0xFFC4, bytes([0x01]) + bytes(_DC_BITS_C) + bytes(_DC_VALS_C)
            ),
            _segment(
                0xFFC4, bytes([0x11]) + bytes(_AC_BITS_C) + bytes(_AC_VALS_C)
            ),
            _segment(0xFFDA, sos),
            bytes(bw.out),
            b"\xff\xd9",
        ]
    )


def _encode_jpeg_cmyk(w: int, h: int, px: bytes, quality: int,
                      adobe_transform: int) -> bytes:
    """Baseline Adobe CMYK/YCCK body of :func:`encode_jpeg`."""
    if adobe_transform not in (0, 2):
        raise ValueError("adobe_transform must be 0 (CMYK) or 2 (YCCK)")
    if len(px) != w * h * 4:
        raise ValueError("sample buffer does not match dimensions")
    cmyk = (np.frombuffer(bytes(px), dtype=np.uint8)
            .reshape(h, w, 4).astype(np.float64))
    inv = 255.0 - cmyk  # Adobe-inverted storage
    qt_l = _quant_table(quality)
    if adobe_transform == 2:  # YCCK: YCbCr of the inverted CMY
        r, g, b = inv[..., 0], inv[..., 1], inv[..., 2]
        store = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
            inv[..., 3],
        ]
    else:
        store = [inv[..., i] for i in range(4)]
    zzs = [
        _plane_to_zz(
            _pad_plane(
                np.clip(np.round(p), 0, 255).astype(np.uint8), h, w
            ),
            qt_l,
        )
        for p in store
    ]
    bw = _BitWriter()
    prev = [0, 0, 0, 0]
    for m in range(zzs[0].shape[0]):  # 1x1 sampling: 4 blocks / MCU
        for ci in range(4):
            prev[ci] = _write_block(
                bw, zzs[ci][m], prev[ci], _DC_CODES, _AC_CODES
            )
    bw.flush()
    qt_zz = qt_l.reshape(-1)[_ZIGZAG].astype(np.uint8)
    sof = struct.pack(">BHHB", 8, h, w, 4) + b"".join(
        bytes([cid, 0x11, 0]) for cid in (1, 2, 3, 4)
    )
    sos = bytes([4]) + b"".join(
        bytes([cid, 0x00]) for cid in (1, 2, 3, 4)
    ) + bytes([0, 63, 0])
    adobe = (b"Adobe" + struct.pack(">HHHB", 100, 0, 0, adobe_transform))
    return b"".join(
        [
            b"\xff\xd8",
            _segment(0xFFEE, adobe),
            _segment(0xFFDB, b"\x00" + qt_zz.tobytes()),
            _segment(0xFFC0, sof),
            _segment(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)),
            _segment(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)),
            _segment(0xFFDA, sos),
            bytes(bw.out),
            b"\xff\xd9",
        ]
    )


# ------------------------------------------------------- progressive encode
def _flat_ac_spec() -> tuple[list[int], list[int]]:
    """AC Huffman spec for progressive scans: every symbol this
    encoder can emit — EOBn (r<<4, r≤14), ZRL (0xF0) and (run<<4)|size
    for size 1..10 — as a flat all-length-8 canonical code. 176
    symbols fit the 256-slot space with max code 175, so the all-ones
    codeword stays unused (Annex C convention). The standard Annex K
    tables lack the EOBn symbols for n>0, so progressive needs its
    own table; it is written into the stream like every other table."""
    vals = [r << 4 for r in range(15)]  # EOB0..EOB14
    vals.append(0xF0)  # ZRL
    vals += [(r << 4) | s for r in range(16) for s in range(1, 11)]
    bits = [0] * 16
    bits[7] = len(vals)  # all codes 8 bits long
    return bits, vals


_FLAT_AC_BITS, _FLAT_AC_VALS = _flat_ac_spec()
_FLAT_AC_CODES = _build_codes(_FLAT_AC_BITS, _FLAT_AC_VALS)


def _flush_eobrun(bw: _BitWriter, codes, state: dict) -> None:
    """Emit the pending end-of-band run (EOBn symbol + extension
    bits) and any correction bits buffered with it (refinement)."""
    n = state["eobrun"]
    if n > 0:
        nbits = n.bit_length() - 1
        code, ln = codes[nbits << 4]
        bw.write(code, ln)
        if nbits:
            bw.write(n - (1 << nbits), nbits)
        state["eobrun"] = 0
    for b in state["bits"]:
        bw.write(b, 1)
    state["bits"] = []


def _emit_ac_first_block(
    bw: _BitWriter, codes, coef, ss: int, se: int, al: int, state: dict
) -> None:
    """Progressive AC first pass for one block (T.81 G.1.2.2):
    point-transformed (truncate toward zero) band with EOB runs."""
    r = 0
    for k in range(ss, se + 1):
        v = int(coef[k])
        t = abs(v) >> al
        if t == 0:
            r += 1
            continue
        if v < 0:
            t = -t
        _flush_eobrun(bw, codes, state)
        while r > 15:
            code, ln = codes[0xF0]
            bw.write(code, ln)
            r -= 16
        cat = _category(t)
        code, ln = codes[(r << 4) | cat]
        bw.write(code, ln)
        bw.write(_amplitude_bits(t, cat), cat)
        r = 0
    if r > 0:
        state["eobrun"] += 1
        if state["eobrun"] == 0x7FFF:
            _flush_eobrun(bw, codes, state)


def _emit_ac_refine_block(
    bw: _BitWriter, codes, coef, ss: int, se: int, al: int, state: dict
) -> None:
    """Progressive AC refinement for one block (T.81 G.1.2.3):
    ±1<<Al inserts for newly-nonzero coefficients, buffered correction
    bits for history-nonzero ones, EOB runs carrying tail bits.
    Invariant (mirrors the decoder's run semantics): the symbol run
    counts only zero-HISTORY positions; a buffered correction bit is
    always preceded by ≤15 such zeros, so dumping the whole buffer
    after each ZRL/symbol keeps bits in the decoder's read order."""
    absv = [abs(int(coef[k])) >> al for k in range(ss, se + 1)]
    eob = ss - 1  # position of the last newly-nonzero coefficient
    for k in range(ss, se + 1):
        if absv[k - ss] == 1:
            eob = k
    r = 0
    pending: list[int] = []
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            _flush_eobrun(bw, codes, state)
            code, ln = codes[0xF0]
            bw.write(code, ln)
            r -= 16
            for b in pending:
                bw.write(b, 1)
            pending = []
        if t > 1:  # history-nonzero: next magnitude bit, buffered
            pending.append(t & 1)
            continue
        _flush_eobrun(bw, codes, state)
        code, ln = codes[(r << 4) | 1]
        bw.write(code, ln)
        bw.write(1 if int(coef[k]) > 0 else 0, 1)
        for b in pending:
            bw.write(b, 1)
        pending = []
        r = 0
    if r > 0 or pending:
        state["eobrun"] += 1
        state["bits"].extend(pending)
        if state["eobrun"] == 0x7FFF:
            _flush_eobrun(bw, codes, state)


def encode_jpeg12_gray(
    w: int, h: int, samples, quality: int = 85
) -> bytes:
    """Encode 12-bit grayscale ``samples`` (row-major ints, 0..4095)
    as EXTENDED SEQUENTIAL JPEG (SOF1, 12-bit sample precision,
    T.81 Table B.2) — the archival/medical regime. The quantization
    table is written with 16-bit elements (DQT Pq=1) and floored at
    20 so every quantized magnitude stays within the Annex-K
    category range (|DC| <= 16384/20 = 819, DC DIFFS <= 1638 < 2^11,
    AC <= 819 < 2^10), letting the standard luma tables serve
    unchanged. Fixture twin of :func:`decode_jpeg`'s 12-bit path."""
    arr = np.asarray(list(samples), dtype=np.float64).reshape(h, w)
    if arr.min() < 0 or arr.max() > 4095:
        raise ValueError("12-bit samples must be in 0..4095")
    qt = np.maximum(_quant_table(quality) * 16.0, 20.0)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    plane = np.pad(
        arr - 2048.0, ((0, ph - h), (0, pw - w)), mode="edge"
    )
    zz = _plane_to_zz(plane, qt)
    bw = _BitWriter()
    prev_dc = 0
    for blk in zz:
        prev_dc = _write_block(bw, blk, prev_dc, _DC_CODES, _AC_CODES)
    bw.flush()
    qt_zz = qt.reshape(-1)[_ZIGZAG].astype(np.uint16)
    dqt = b"\x10" + struct.pack(">64H", *qt_zz.tolist())
    return b"".join(
        [
            b"\xff\xd8",
            _segment(0xFFDB, dqt),
            _segment(
                0xFFC1,  # SOF1 extended sequential, 12-bit
                struct.pack(">BHHB", 12, h, w, 1) + bytes([1, 0x11, 0]),
            ),
            _segment(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)),
            _segment(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)),
            _segment(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0])),
            bytes(bw.out),
            b"\xff\xd9",
        ]
    )


def encode_jpeg12_cmyk(
    w: int, h: int, samples, quality: int = 85
) -> bytes:
    """Encode 12-bit Adobe CMYK (SOF1 extended sequential, APP14
    transform 0, Adobe-INVERTED storage like the 8-bit encoder) —
    the print-production archival shape. ``samples`` are row-major
    interleaved C,M,Y,K ints in 0..4095. Same 16-bit-DQT/floor-20
    magnitude argument as :func:`encode_jpeg12_gray`, so the
    standard Annex-K Huffman tables serve unchanged. Fixture twin of
    :func:`decode_jpeg`'s 12-bit 4-component path."""
    arr = np.asarray(list(samples), dtype=np.float64).reshape(h, w, 4)
    if arr.min() < 0 or arr.max() > 4095:
        raise ValueError("12-bit samples must be in 0..4095")
    inv = 4095.0 - arr  # Adobe-inverted storage
    qt = np.maximum(_quant_table(quality) * 16.0, 20.0)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    zzs = [
        _plane_to_zz(
            np.pad(
                inv[..., i] - 2048.0,
                ((0, ph - h), (0, pw - w)),
                mode="edge",
            ),
            qt,
        )
        for i in range(4)
    ]
    bw = _BitWriter()
    prev = [0, 0, 0, 0]
    for m in range(zzs[0].shape[0]):  # 1x1 sampling: 4 blocks / MCU
        for ci in range(4):
            prev[ci] = _write_block(
                bw, zzs[ci][m], prev[ci], _DC_CODES, _AC_CODES
            )
    bw.flush()
    qt_zz = qt.reshape(-1)[_ZIGZAG].astype(np.uint16)
    sof = struct.pack(">BHHB", 12, h, w, 4) + b"".join(
        bytes([cid, 0x11, 0]) for cid in (1, 2, 3, 4)
    )
    sos = bytes([4]) + b"".join(
        bytes([cid, 0x00]) for cid in (1, 2, 3, 4)
    ) + bytes([0, 63, 0])
    adobe = b"Adobe" + struct.pack(">HHHB", 100, 0, 0, 0)
    return b"".join(
        [
            b"\xff\xd8",
            _segment(0xFFEE, adobe),
            _segment(0xFFDB, b"\x10" + struct.pack(">64H", *qt_zz.tolist())),
            _segment(0xFFC1, sof),
            _segment(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)),
            _segment(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)),
            _segment(0xFFDA, sos),
            bytes(bw.out),
            b"\xff\xd9",
        ]
    )


def encode_jpeg_progressive(
    w: int, h: int, px: bytes, quality: int = 85, ncomp: int = 1
) -> bytes:
    """Encode as PROGRESSIVE JFIF (SOF2, T.81 Annex G) with both
    spectral selection and successive approximation — the scan script
    a web-era progressive photo typically uses:

    1. DC first, all components interleaved, Al=1
    2. per component: AC 1-5 first at Al=2, then AC 6-63 first at Al=2
    3. per component: AC 1-63 refinement Al=2→1, then Al=1→0
    4. DC refinement Al=1→0

    The quantized coefficients are exactly :func:`encode_jpeg`'s
    (shared :func:`_quantized_components`), so decoding the
    progressive and the baseline stream yields IDENTICAL pixels —
    the round-trip oracle the tests pin."""
    if ncomp not in (1, 3):
        raise ValueError("ncomp must be 1 (gray) or 3 (RGB)")
    zzs, qt_l, qt_c = _quantized_components(w, h, px, quality, ncomp)
    nblocks = zzs[0].shape[0]
    dc_codes = [_DC_CODES] + [_DC_CODES_C] * (ncomp - 1)
    comp_ids = list(range(1, ncomp + 1))

    out = [b"\xff\xd8"]
    out.append(
        _segment(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    )
    qtl_zz = qt_l.reshape(-1)[_ZIGZAG].astype(np.uint8)
    out.append(_segment(0xFFDB, b"\x00" + qtl_zz.tobytes()))
    if ncomp == 3:
        qtc_zz = qt_c.reshape(-1)[_ZIGZAG].astype(np.uint8)
        out.append(_segment(0xFFDB, b"\x01" + qtc_zz.tobytes()))
    sof = struct.pack(">BHHB", 8, h, w, ncomp) + b"".join(
        bytes([cid, 0x11, 0 if i == 0 else 1])
        for i, cid in enumerate(comp_ids)
    )
    out.append(_segment(0xFFC2, sof))  # SOF2: progressive DCT
    out.append(_segment(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)))
    if ncomp == 3:
        out.append(
            _segment(0xFFC4, bytes([0x01]) + bytes(_DC_BITS_C) + bytes(_DC_VALS_C))
        )
    out.append(
        _segment(0xFFC4, bytes([0x10]) + bytes(_FLAT_AC_BITS) + bytes(_FLAT_AC_VALS))
    )

    def sos_header(ids_tabs: list[tuple[int, int]], ss, se, ah, al) -> bytes:
        body = bytes([len(ids_tabs)])
        for cid, tb in ids_tabs:
            body += bytes([cid, tb])
        return _segment(0xFFDA, body + bytes([ss, se, (ah << 4) | al]))

    # scan 1: DC first, interleaved (4:4:4 -> one block/comp/MCU)
    out.append(
        sos_header([(cid, (0x00 if i == 0 else 0x11) & 0xF0)
                    for i, cid in enumerate(comp_ids)], 0, 0, 0, 1)
    )
    bw = _BitWriter()
    prev = [0] * ncomp
    for m in range(nblocks):
        for ci in range(ncomp):
            v = int(zzs[ci][m][0]) >> 1  # Al=1 point transform
            diff = v - prev[ci]
            prev[ci] = v
            cat = _category(diff)
            code, ln = dc_codes[ci][cat]
            bw.write(code, ln)
            if cat:
                bw.write(_amplitude_bits(diff, cat), cat)
    bw.flush()
    out.append(bytes(bw.out))

    # AC scans: per component, spectral bands then two refinements
    for ss, se, ah, al, emit in (
        (1, 5, 0, 2, _emit_ac_first_block),
        (6, 63, 0, 2, _emit_ac_first_block),
        (1, 63, 2, 1, _emit_ac_refine_block),
        (1, 63, 1, 0, _emit_ac_refine_block),
    ):
        for ci in range(ncomp):
            out.append(sos_header([(comp_ids[ci], 0x00)], ss, se, ah, al))
            bw = _BitWriter()
            state = {"eobrun": 0, "bits": []}
            for m in range(nblocks):
                emit(bw, _FLAT_AC_CODES, zzs[ci][m], ss, se, al, state)
            _flush_eobrun(bw, _FLAT_AC_CODES, state)
            bw.flush()
            out.append(bytes(bw.out))

    # final scan: DC refinement Al=0, interleaved
    out.append(
        sos_header([(cid, 0x00) for cid in comp_ids], 0, 0, 1, 0)
    )
    bw = _BitWriter()
    for m in range(nblocks):
        for ci in range(ncomp):
            bw.write((int(zzs[ci][m][0]) >> 0) & 1, 1)
    bw.flush()
    out.append(bytes(bw.out))
    out.append(b"\xff\xd9")
    return b"".join(out)


# ----------------------------------------------------------------- decode
class _BitReader:
    """MSB-first entropy-stream reader with byte-stuffing removal.

    Optimized (round 11): the accumulator buffers WHOLE BYTES (``_n``
    real bits live in ``_acc``), so ``read_bits(n)`` is one shift+mask
    and the Huffman fast path can peek 9 bits at once instead of
    walking bit-by-bit. ``_costs`` records each buffered byte's INPUT
    cost (2 for a stuffed ``FF 00``) so :meth:`tail_pos` can report
    what a lazy bit-at-a-time reader's position would be — just past
    the last byte containing a consumed bit — which is what the
    scan-resync and restart-marker logic rely on. Error behavior is
    identical to the lazy reader: hard fills raise on truncation or
    an unexpected marker at exactly the same consumed-bit offsets."""

    __slots__ = ("data", "pos", "_acc", "_n", "_stuff")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0
        #: stuffing history: bit i set = the (i+1)-th NEWEST buffered
        #: byte cost 2 input bytes (FF 00). Only the newest few bytes
        #: ever matter: _fill_soft24 buffers up to 56 bits, so at most
        #: 7 unconsumed bytes are live — well within the 24-bit mask
        #: tail_pos/restart rewind through.
        self._stuff = 0

    def _fill_hard(self) -> None:
        """Buffer one more entropy byte; original error semantics."""
        data = self.data
        p = self.pos
        if p >= len(data):
            raise ValueError("JPEG entropy stream truncated")
        b = data[p]
        p += 1
        st = 0
        if b == 0xFF:
            if p >= len(data) or data[p] != 0x00:
                raise ValueError("unexpected marker in entropy data")
            p += 1  # skip stuffed zero
            st = 1
        self.pos = p
        n = self._n
        self._acc = ((self._acc & ((1 << n) - 1)) << 8) | b
        self._n = n + 8
        self._stuff = ((self._stuff << 1) | st) & 0xFFFFFF

    def _fill_soft24(self) -> None:
        """Batch-buffer bytes until >= 56 bits are available, stopping
        silently at end-of-data or a marker — speculative peeks only.
        Runs without 0xFF (the overwhelmingly common case) are
        consumed in one ``find`` + ``int.from_bytes`` shot, so the
        per-coefficient refill in ``_block_seq`` amortizes to one
        bulk copy per several symbols."""
        data = self.data
        ln = len(data)
        p = self.pos
        n = self._n
        acc = self._acc & ((1 << n) - 1)
        stuff = self._stuff
        while n < 56:
            if p >= ln:
                break
            q = p + ((56 - n + 7) >> 3)
            if q > ln:
                q = ln
            f = data.find(0xFF, p, q)
            if f != p:
                if f < 0:
                    f = q
                m = f - p
                acc = (acc << (m * 8)) | int.from_bytes(data[p:f], "big")
                stuff <<= m
                n += m * 8
                p = f
                continue
            # data[p] == 0xFF: stuffed zero buffers as one 0xFF byte;
            # a real marker (or a truncated FF) stops the fill
            if p + 1 >= ln or data[p + 1] != 0x00:
                break
            p += 2
            stuff = (stuff << 1) | 1
            acc = (acc << 8) | 0xFF
            n += 8
        self.pos = p
        self._acc = acc
        self._n = n
        self._stuff = stuff & 0xFFFFFF

    def read_bit(self) -> int:
        if self._n == 0:
            self._fill_hard()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        while self._n < n:
            self._fill_hard()
        self._n -= n
        return (self._acc >> self._n) & ((1 << n) - 1)

    def peek9(self) -> int:
        """Next 9 bits MSB-first, zero-padded past end-of-stream;
        never raises (soft fill)."""
        n = self._n
        if n < 9:
            self._fill_soft24()
            n = self._n
            if n < 9:
                return ((self._acc & ((1 << n) - 1)) << (9 - n)) & 0x1FF
        return (self._acc >> (n - 9)) & 0x1FF

    def tail_pos(self) -> int:
        """Input position just past the last byte containing a
        consumed bit (== the lazy reader's ``pos``)."""
        p = self.pos
        stuff = self._stuff
        for i in range(self._n >> 3):  # roll back unconsumed bytes
            p -= 2 if (stuff >> i) & 1 else 1
        return p

    def restart(self) -> None:
        """Byte-align and consume an RSTn marker (ITU-T T.81 §E.2.4)."""
        self.pos = self.tail_pos()
        self._acc = 0
        self._n = 0
        self._stuff = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or not 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected RSTn marker at restart interval")
        self.pos += 2


def _decode_tree(bits: list[int], vals: list[int]):
    """Huffman decode tables: ((length, code) -> symbol map, 9-bit
    LUT). The dense LUT resolves every code of <= 9 bits (the vast
    majority of DC/AC symbols) from one peek; longer codes fall back
    to the exact per-bit walk over the map."""
    table = {}
    lut: list[tuple[int, int] | None] = [None] * 512
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = vals[k]
            table[(length, code)] = sym
            if length <= 9:
                base = code << (9 - length)
                entry = (sym, length)
                for i in range(1 << (9 - length)):
                    lut[base + i] = entry
            code += 1
            k += 1
        code <<= 1
    return table, lut


def _read_symbol_slow(br: _BitReader, bylen) -> int:
    """Exact per-bit walk — long codes (10-16 bits), stream edges and
    invalid prefixes, with the lazy reader's error behavior."""
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = bylen.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _read_symbol(br: _BitReader, table) -> int:
    bylen, lut = table
    e = lut[br.peek9()]
    if e is not None:
        sym, ln = e
        if ln <= br._n:  # enough REAL bits: consume and go
            br._n -= ln
            return sym
    return _read_symbol_slow(br, bylen)


def _extend(raw: int, cat: int) -> int:
    """ITU-T T.81 F.2.2.1 EXTEND: category+bits -> signed value."""
    return raw if raw >= (1 << (cat - 1)) else raw - (1 << cat) + 1


def _block_seq(br: _BitReader, dc_t, ac_t, prev_dc: int, zz) -> int:
    """Sequential full-band block into the zigzag view ``zz``.

    The dominant real-world decode loop (baseline scans), so the
    9-bit-LUT symbol fast path and EXTEND are inlined here with the
    reader's hot methods hoisted to locals; semantics are identical
    to `_read_symbol` + `_extend` per coefficient (the slow path is
    the shared per-bit walk)."""
    ac_lut = ac_t[1]
    cat = _read_symbol(br, dc_t)
    diff = _extend(br.read_bits(cat), cat) if cat else 0
    prev_dc += diff
    zz[0] = prev_dc
    i = 1
    while i < 64:
        # fast path: symbol (<=9 bits) AND its magnitude bits served
        # from the local accumulator in one go (9 + 15 = 24 bits max,
        # so >= 24 buffered bits guarantee it when the code is short)
        if br._n < 24:
            br._fill_soft24()
        n = br._n
        acc = br._acc
        if n >= 9:
            e = ac_lut[(acc >> (n - 9)) & 0x1FF]
        else:
            e = ac_lut[((acc & ((1 << n) - 1)) << (9 - n)) & 0x1FF]
        if e is not None:
            sym = e[0]
            cat = sym & 0x0F
            if e[1] + cat <= n:
                n -= e[1]
                if sym == 0x00:  # EOB
                    br._n = n
                    break
                if sym == 0xF0:  # ZRL
                    br._n = n
                    i += 16
                    continue
                i += sym >> 4
                n -= cat
                br._n = n
                raw = (acc >> n) & ((1 << cat) - 1)
                v = raw if raw >= (1 << (cat - 1)) else raw - (1 << cat) + 1
                if i < 64:
                    zz[i] = v
                i += 1
                continue
        # slow path: long code, stream edge, or invalid symbol
        sym = _read_symbol(br, ac_t)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            i += 16
            continue
        cat = sym & 0x0F
        i += sym >> 4
        raw = br.read_bits(cat)
        v = raw if raw >= (1 << (cat - 1)) else raw - (1 << cat) + 1
        if i < 64:
            zz[i] = v
        i += 1
    return prev_dc


def _block_dc_first(br: _BitReader, dc_t, prev_dc: int, zz, al: int) -> int:
    """Progressive DC first pass (T.81 G.1.2.1): diff-coded DC of the
    point-transformed coefficient, stored re-shifted by Al."""
    cat = _read_symbol(br, dc_t)
    diff = _extend(br.read_bits(cat), cat) if cat else 0
    prev_dc += diff
    zz[0] = prev_dc << al if prev_dc >= 0 else -((-prev_dc) << al)
    return prev_dc


def _block_dc_refine(br: _BitReader, zz, al: int) -> None:
    """Progressive DC refinement: one appended magnitude bit."""
    if br.read_bit():
        zz[0] = int(zz[0]) | (1 << al)


def _block_ac_first(
    br: _BitReader, ac_t, zz, ss: int, se: int, al: int, eobrun: int
) -> int:
    """Progressive AC first pass over band [ss, se] (T.81 G.1.2.2),
    with end-of-band run accumulation. Returns the new EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _read_symbol(br, ac_t)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r == 15:  # ZRL: 16 zero coefficients
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.read_bits(r)
            break
        k += r
        v = _extend(br.read_bits(s), s)
        if k <= se:
            zz[k] = v << al if v >= 0 else -((-v) << al)
        k += 1
    return eobrun


def _block_ac_refine(
    br: _BitReader, ac_t, zz, ss: int, se: int, al: int, eobrun: int
) -> int:
    """Progressive AC refinement over band [ss, se] (T.81 G.1.2.3):
    correction bits for history-nonzero coefficients, ±1<<Al inserts
    for newly-nonzero ones, EOB runs refining whole blocks."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _read_symbol(br, ac_t)
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r < 15:
                    # EOB run INCLUDING this block: the rest of this
                    # block's band still takes correction bits below
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read_bits(r)
                    break
                val = 0  # ZRL: skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("invalid AC refinement symbol")
                val = p1 if br.read_bit() else m1
            # advance over the run: correction-bit every nonzero-history
            # coefficient passed, count down r zero-history positions
            while k <= se:
                c = int(zz[k])
                if c != 0:
                    if br.read_bit() and (c & p1) == 0:
                        zz[k] = c + (p1 if c >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val != 0 and k <= se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # refine the rest of the band, insert nothing
            c = int(zz[k])
            if c != 0:
                if br.read_bit() and (c & p1) == 0:
                    zz[k] = c + (p1 if c >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_scan(
    data: bytes,
    start: int,
    comps,
    coef,
    huff,
    scan_ids,
    scan_tabs,
    w: int,
    h: int,
    hmax: int,
    vmax: int,
    mcux: int,
    mcuy: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart_interval: int,
    progressive: bool,
) -> int:
    """Entropy-decode ONE scan (sequential full-band or progressive
    DC/AC first/refinement) into the per-component coefficient arrays
    ``coef``. Returns the byte offset just past the consumed entropy
    data (the caller resyncs to the next marker from there)."""
    br = _BitReader(data[start:])
    cid_to_ci = {c[0]: i for i, c in enumerate(comps)}
    try:
        idxs = [cid_to_ci[cid] for cid in scan_ids]
    except KeyError as e:
        raise ValueError(f"scan references unknown component {e}") from e

    def tabs(pos_in_scan: int):
        dc_id, ac_id = scan_tabs[pos_in_scan]
        need_dc = (not progressive) or (ss == 0 and ah == 0)
        need_ac = (not progressive) or ss > 0
        dc_t = huff.get((0, dc_id)) if need_dc else None
        ac_t = huff.get((1, ac_id)) if need_ac else None
        if need_dc and dc_t is None:
            raise ValueError(f"undefined Huffman table (0, {dc_id})")
        if need_ac and ac_t is None:
            raise ValueError(f"undefined Huffman table (1, {ac_id})")
        return dc_t, ac_t

    prev = [0] * len(idxs)
    eobrun = 0
    n = 0

    def maybe_restart():
        nonlocal prev, eobrun
        if restart_interval and n and n % restart_interval == 0:
            br.restart()
            prev = [0] * len(idxs)
            eobrun = 0

    if progressive and ss > 0 and len(idxs) > 1:
        raise ValueError("interleaved progressive AC scan is invalid")

    if len(idxs) > 1:
        # interleaved: MCU order over the frame geometry
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart()
                for si, ci in enumerate(idxs):
                    _cid, hs, vs, _tq = comps[ci]
                    dc_t, ac_t = tabs(si)
                    for v in range(vs):
                        for hh in range(hs):
                            zz = coef[ci][my * vs + v, mx * hs + hh]
                            if not progressive:
                                prev[si] = _block_seq(
                                    br, dc_t, ac_t, prev[si], zz
                                )
                            elif ah == 0:
                                prev[si] = _block_dc_first(
                                    br, dc_t, prev[si], zz, al
                                )
                            else:
                                _block_dc_refine(br, zz, al)
                n += 1
    else:
        # non-interleaved (T.81 A.2): one data unit per MCU in raster
        # block order over the COMPONENT's own 8-px-padded geometry
        ci = idxs[0]
        _cid, hs, vs, _tq = comps[ci]
        dc_t, ac_t = tabs(0)
        comp_w = -(-(w * hs) // hmax)  # component px width (ceil)
        comp_h = -(-(h * vs) // vmax)
        nbx = -(-comp_w // 8)  # data units per row (ceil to blocks)
        nby = -(-comp_h // 8)
        for by in range(nby):
            for bx in range(nbx):
                maybe_restart()
                zz = coef[ci][by, bx]
                if not progressive:
                    prev[0] = _block_seq(br, dc_t, ac_t, prev[0], zz)
                elif ss == 0 and ah == 0:
                    prev[0] = _block_dc_first(br, dc_t, prev[0], zz, al)
                elif ss == 0:
                    _block_dc_refine(br, zz, al)
                elif ah == 0:
                    eobrun = _block_ac_first(
                        br, ac_t, zz, ss, se, al, eobrun
                    )
                else:
                    eobrun = _block_ac_refine(
                        br, ac_t, zz, ss, se, al, eobrun
                    )
                n += 1
    # the buffered reader may have prefetched bytes past the last
    # consumed bit; report the lazy reader's position for the
    # caller's marker resync
    return start + br.tail_pos()


def _parse_dht(payload: bytes, into: dict, key_with_class: bool) -> None:
    """Parse one DHT segment (possibly several tables) into ``into``:
    keys are (class, id) when ``key_with_class`` else id-only for
    DC-class tables (the lossless path) — ONE parser for both marker
    walkers so they cannot drift."""
    p = 0
    while p < len(payload):
        tc_th = payload[p]
        bits = list(payload[p + 1:p + 17])
        nvals = sum(bits)
        vals = list(payload[p + 17:p + 17 + nvals])
        if key_with_class:
            into[(tc_th >> 4, tc_th & 0x0F)] = _decode_tree(bits, vals)
        elif tc_th >> 4 == 0:
            into[tc_th & 0x0F] = _decode_tree(bits, vals)
        p += 17 + nvals


def _lossless_predict(prev_row, cur_row, x, first_line, predictor,
                      default, first_sample=False):
    """T.81 H.1.1/H.1.2 sample prediction: Ra left, Rb above, Rc
    above-left. The first sample of the scan AND of each restart
    interval predicts the level-shift default; the remainder of an
    interval's FIRST LINE uses the 1-D Ra predictor; the first
    column of later lines uses Rb; everything else the selected
    predictor."""
    if first_sample:
        return default
    if first_line or prev_row is None:
        return cur_row[x - 1]  # interval first line: Ra
    if x == 0:
        return prev_row[0]  # first column: Rb
    ra, rb, rc = cur_row[x - 1], prev_row[x], prev_row[x - 1]
    if predictor == 1:
        return ra
    if predictor == 2:
        return rb
    if predictor == 3:
        return rc
    if predictor == 4:
        return ra + rb - rc
    if predictor == 5:
        return ra + ((rb - rc) >> 1)
    if predictor == 6:
        return rb + ((ra - rc) >> 1)
    if predictor == 7:
        return (ra + rb) >> 1
    raise ValueError(f"bad lossless predictor {predictor}")


def _decode_jpeg_lossless(data: bytes) -> tuple[int, int, bytes]:
    """LOSSLESS JPEG (SOF3, T.81 Annex H — the DICOM/archival
    regime): Huffman-coded per-sample prediction differences,
    predictors 1-7, point transform, 2-16 bit precision, modulo-2^16
    reconstruction. Components must be unsubsampled (1x1 — the shape
    lossless streams carry). Output rescaled to the pipeline's 8-bit
    convention; 3 components are taken as literal RGB (lossless
    JPEG has no YCbCr convention)."""
    pos = 2
    huff: dict[int, dict] = {}
    w = h = 0
    prec = 8
    comps: list[tuple[int, int]] = []  # (cid, _)
    ri = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(data):
            raise ValueError("JPEG truncated at a marker boundary")
        marker = struct.unpack(">H", data[pos:pos + 2])[0]
        if marker == 0xFFD9:
            break
        if 0xFFD0 <= marker <= 0xFFD7 or marker == 0xFF01:
            pos += 2
            continue
        if pos + 4 > len(data):
            raise ValueError("JPEG segment header truncated")
        (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
        payload = data[pos + 4:pos + 2 + seglen]
        if marker == 0xFFC3:
            prec, h, w, ncomp = struct.unpack(">BHHB", payload[:6])
            _check_sof_budget(w, h, ncomp)
            if not 2 <= prec <= 16:
                raise ValueError(f"bad lossless precision {prec}")
            if ncomp not in (1, 3):
                raise ValueError(
                    f"{ncomp}-component lossless JPEGs not supported"
                )
            comps = []
            for c in range(ncomp):
                cid, samp, _tq = payload[6 + 3 * c:9 + 3 * c]
                if samp != 0x11:
                    raise ValueError(
                        "subsampled lossless JPEG not supported"
                    )
                comps.append((cid, 0))
        elif marker == 0xFFC4:  # lossless uses DC-class tables
            _parse_dht(payload, huff, key_with_class=False)
        elif marker == 0xFFDD:
            (ri,) = struct.unpack(">H", payload[:2])
        elif marker == 0xFFDA:
            if not comps:
                raise ValueError("SOS before SOF")
            ns = payload[0]
            if ns != len(comps):
                raise ValueError("lossless scan must cover all components")
            # map scan order to SOF component order (T.81 allows a
            # permuted Cs list) and carry each component's table id
            cid_to_ci = {cid: i for i, (cid, _) in enumerate(comps)}
            order = []
            tabs = [0] * len(comps)
            for c in range(ns):
                cid = payload[1 + 2 * c]
                if cid not in cid_to_ci:
                    raise ValueError(f"scan component {cid} not in SOF")
                ci = cid_to_ci[cid]
                order.append(ci)
                tabs[ci] = payload[2 + 2 * c] >> 4
            if sorted(order) != list(range(len(comps))):
                raise ValueError("duplicate scan component")
            p = 1 + 2 * ns
            predictor = payload[p]      # Ss = predictor selection
            pt = payload[p + 2] & 0x0F  # Al = point transform
            if not 1 <= predictor <= 7:
                raise ValueError(f"bad lossless predictor {predictor}")
            if pt >= prec:
                raise ValueError("point transform exceeds precision")
            br = _BitReader(data[pos + 2 + seglen:])
            default = 1 << (prec - pt - 1)
            planes = [
                [[0] * w for _ in range(h)] for _ in range(len(comps))
            ]
            prev_rows = [None] * len(comps)
            cur_rows = [None] * len(comps)
            since_restart = 0
            # the current restart interval's start position: its
            # first sample predicts the default, the rest of that
            # LINE uses Ra (T.81 H.1.1)
            start_x, start_y = 0, 0
            for y in range(h):
                for ci in range(len(comps)):
                    cur_rows[ci] = planes[ci][y]
                for x in range(w):
                    if ri and since_restart == ri:
                        br.restart()
                        since_restart = 0
                        start_x, start_y = x, y
                    for ci in order:
                        tbl = huff.get(tabs[ci])
                        if tbl is None:
                            raise ValueError(
                                f"undefined Huffman table {tabs[ci]}"
                            )
                        ssss = _read_symbol(br, tbl)
                        if ssss == 16:  # no extra bits (H.2 Table)
                            diff = 32768
                        elif ssss:
                            diff = _extend(br.read_bits(ssss), ssss)
                        else:
                            diff = 0
                        pred = _lossless_predict(
                            prev_rows[ci], cur_rows[ci], x,
                            y == start_y, predictor, default,
                            first_sample=(x, y) == (start_x, start_y),
                        )
                        cur_rows[ci][x] = (pred + diff) & 0xFFFF
                    since_restart += 1
                for ci in range(len(comps)):
                    prev_rows[ci] = cur_rows[ci]
            top = (1 << prec) - 1
            arrs = [
                np.asarray(p_, dtype=np.float64) * float(1 << pt)
                for p_ in planes
            ]
            if len(arrs) == 1:
                out = np.clip(
                    np.round(arrs[0] * (255.0 / top)), 0, 255
                ).astype(np.uint8)
                return w, h, out.tobytes()
            rgb = np.stack(arrs, axis=-1) * (255.0 / top)
            out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
            return w, h, out.tobytes()
        pos += 2 + seglen
    raise ValueError("missing JPEG segments")


def encode_jpeg_lossless(
    w: int,
    h: int,
    samples,
    precision: int = 8,
    predictor: int = 1,
    point_transform: int = 0,
    ncomp: int = 1,
) -> bytes:
    """Author a LOSSLESS JPEG (SOF3) stream — fixture twin of
    :func:`_decode_jpeg_lossless`. ``samples``: row-major ints in
    [0, 2^precision) (interleaved for ``ncomp=3``), already divided
    by 2^point_transform if one is used. One DHT with 17 five-bit
    SSSS codes serves every category."""
    if ncomp not in (1, 3):
        raise ValueError("ncomp must be 1 or 3")
    if not 2 <= precision <= 16:
        raise ValueError("precision must be 2..16")
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1..7")
    pt = point_transform
    if pt >= precision:
        raise ValueError("point transform exceeds precision")
    vals = list(samples)
    if len(vals) != w * h * ncomp:
        raise ValueError("sample buffer does not match dimensions")
    top = (1 << precision) - 1
    if any(not 0 <= v <= top for v in vals):
        raise ValueError("sample out of precision range")
    bits = [0, 0, 0, 0, 17] + [0] * 11
    codes = _build_codes(bits, list(range(17)))
    bw = _BitWriter()
    default = 1 << (precision - pt - 1)
    planes = [
        [
            [vals[(y * w + x) * ncomp + ci] for x in range(w)]
            for y in range(h)
        ]
        for ci in range(ncomp)
    ]
    prev_rows = [None] * ncomp
    for y in range(h):
        cur_rows = [planes[ci][y] for ci in range(ncomp)]
        for x in range(w):
            for ci in range(ncomp):
                pred = _lossless_predict(
                    prev_rows[ci], cur_rows[ci], x, y == 0,
                    predictor, default,
                    first_sample=(x, y) == (0, 0),
                )
                diff = (cur_rows[ci][x] - pred) & 0xFFFF
                if diff >= 32768:
                    if diff == 32768:
                        code, ln = codes[16]
                        bw.write(code, ln)
                        continue
                    diff -= 65536  # negative difference
                cat = _category(diff)
                code, ln = codes[cat]
                bw.write(code, ln)
                if cat:
                    bw.write(_amplitude_bits(diff, cat), cat)
        prev_rows = cur_rows
    bw.flush()
    sof = struct.pack(">BHHB", precision, h, w, ncomp) + b"".join(
        bytes([ci + 1, 0x11, 0]) for ci in range(ncomp)
    )
    sos = (bytes([ncomp])
           + b"".join(bytes([ci + 1, 0x00]) for ci in range(ncomp))
           + bytes([predictor, 0, pt]))
    return b"".join(
        [
            b"\xff\xd8",
            _segment(0xFFC4, bytes([0x00]) + bytes(bits)
                     + bytes(range(17))),
            _segment(0xFFC3, sof),
            _segment(0xFFDA, sos),
            bytes(bw.out),
            b"\xff\xd9",
        ]
    )


def decode_jpeg(data: bytes) -> tuple[int, int, bytes]:
    """Decode a JFIF/JPEG still: baseline or extended sequential
    (single- or multi-scan) and PROGRESSIVE (SOF2 — spectral selection
    + successive approximation, T.81 Annex G). 1, 3 or 4 (Adobe
    CMYK/YCCK, APP14-signaled inversion) components, any
    sampling factors up to 2x2 (4:4:4 / 4:2:2 / 4:2:0), multi-table
    DQT/DHT segments, restart intervals, APPn/COM skipped. Returns
    (w, h, pixels) — grayscale bytes (w*h) for one component,
    interleaved RGB (3*w*h, YCbCr converted) for three."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    w = h = 0
    comps: list[tuple[int, int, int, int]] = []  # (cid, hs, vs, tq)
    adobe = False
    adobe_transform = 0
    restart_interval = 0
    progressive = False
    precision = 8
    coef: list[np.ndarray] | None = None
    hmax = vmax = mcux = mcuy = 0
    saw_scan = False
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        # ITU-T T.81 B.1.1.2: any marker may be preceded by 0xFF fill
        # bytes — skip runs of 0xFF so 0xFFFF is never read as a marker.
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(data):
            # a lone trailing 0xFF (e.g. EOI's D9 cut off): the
            # documented error type is ValueError, not struct.error
            raise ValueError("JPEG truncated at a marker boundary")
        marker = struct.unpack(">H", data[pos : pos + 2])[0]
        if marker == 0xFFD9:
            break
        if 0xFFD0 <= marker <= 0xFFD7 or marker == 0xFF01:
            pos += 2  # standalone markers carry no length
            continue
        if pos + 4 > len(data):
            raise ValueError("JPEG segment header truncated")
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        payload = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xFFDB:
            p = 0
            while p < len(payload):  # a DQT may hold several tables
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq not in (0, 1):
                    raise ValueError(f"bad quant precision {pq}")
                if pq:  # 16-bit elements (Pq=1 — 12-bit streams)
                    zzt = np.array(
                        struct.unpack_from(">64H", payload, p + 1),
                        dtype=np.float64,
                    )
                else:
                    zzt = np.array(
                        list(payload[p + 1 : p + 65]), dtype=np.float64
                    )
                qt = np.zeros(64)
                qt[_ZIGZAG] = zzt
                qts[tq] = qt.reshape(8, 8)
                p += 65 + (64 if pq else 0)
        elif marker == 0xFFEE:  # APP14: Adobe transform signaling
            if payload[:5] == b"Adobe" and len(payload) >= 12:
                adobe = True
                adobe_transform = payload[11]
        elif marker in (0xFFC0, 0xFFC1, 0xFFC2):  # sequential / progr.
            progressive = marker == 0xFFC2
            prec, h, w, ncomp = struct.unpack(">BHHB", payload[:6])
            _check_sof_budget(w, h, ncomp)
            if prec not in (8, 12):
                # other precisions would silently mis-scale through
                # the level-shift path — decline by name
                raise ValueError(
                    f"{prec}-bit sample precision not supported"
                )
            precision = prec
            if ncomp not in (1, 3, 4):
                raise ValueError(f"{ncomp}-component JPEGs not supported")
            comps = []
            for c in range(ncomp):
                cid, samp, tq = payload[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, samp >> 4, samp & 0x0F, tq))
            if len(comps) == 1:
                # ITU-T T.81 A.2: a single-component scan is NON-
                # interleaved — one data unit per MCU in raster block
                # order, whatever sampling the SOF declares (gray files
                # written with 2x2 luma sampling are spec-valid).
                comps = [(comps[0][0], 1, 1, comps[0][3])]
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            for _, hs, vs, _ in comps:
                if not (1 <= hs <= 2 and 1 <= vs <= 2) or hmax % hs or vmax % vs:
                    raise ValueError(
                        f"sampling factors {hs}x{vs} not supported"
                    )
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            coef = [
                np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int32)
                for _, hs, vs, _ in comps
            ]
        elif marker == 0xFFC3:  # lossless (Annex H): dedicated path
            return _decode_jpeg_lossless(data)
        elif marker in (0xFFC5, 0xFFC6, 0xFFC7, 0xFFC9, 0xFFCA,
                        0xFFCB, 0xFFCD, 0xFFCE, 0xFFCF):
            raise ValueError("non-baseline JPEG coding not supported")
        elif marker == 0xFFC4:
            _parse_dht(payload, huff, key_with_class=True)
        elif marker == 0xFFDD:
            (restart_interval,) = struct.unpack(">H", payload[:2])
        elif marker == 0xFFDA:
            if coef is None:
                raise ValueError("SOS before SOF")
            ns = payload[0]
            scan_ids = []
            scan_tabs = []
            for c in range(ns):
                cid, tb = payload[1 + 2 * c], payload[2 + 2 * c]
                scan_ids.append(cid)
                scan_tabs.append((tb >> 4, tb & 0x0F))
            p = 1 + 2 * ns
            ss, se = payload[p], payload[p + 1]
            ah, al = payload[p + 2] >> 4, payload[p + 2] & 0x0F
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            elif (ss == 0 and se != 0) or se > 63 or se < ss:
                # T.81 G.1: progressive DC scans are exactly [0,0];
                # AC bands must be well-formed
                raise ValueError("invalid progressive scan band")
            pos = _decode_scan(
                data, pos + 2 + seglen, comps, coef, huff, scan_ids,
                scan_tabs, w, h, hmax, vmax, mcux, mcuy, ss, se, ah,
                al, restart_interval, progressive,
            )
            saw_scan = True
            # resync: the entropy decoder stops mid-byte; advance to
            # the next true marker (skip stuffed FF00 and stray RSTn)
            while pos + 1 < len(data) and not (
                data[pos] == 0xFF
                and data[pos + 1] != 0x00
                and not 0xD0 <= data[pos + 1] <= 0xD7
            ):
                pos += 1
            continue
        pos += 2 + seglen
    if coef is None or not qts or not w or not h or not saw_scan:
        # no SOF/DQT, or header-only stream with no decoded scan: a
        # fabricated flat image here would poison pHash/scan routing
        raise ValueError("missing JPEG segments")

    planes = []
    for ci, (_cid, hs, vs, tq) in enumerate(comps):
        by, bx = coef[ci].shape[:2]
        coeffs = np.zeros((by * bx, 64))
        coeffs[:, _ZIGZAG] = coef[ci].reshape(-1, 64).astype(np.float64)
        if tq not in qts:
            raise ValueError(f"undefined quantization table {tq}")
        sp = (_DCT_M.T @ (coeffs.reshape(-1, 8, 8) * qts[tq]) @ _DCT_M
              + float(1 << (precision - 1)))
        plane = (
            sp.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        )
        # nearest upsample to full resolution, then crop
        plane = np.repeat(np.repeat(plane, vmax // vs, 0), hmax // hs, 1)
        planes.append(plane[:h, :w])
    scale = 255.0 / ((1 << precision) - 1)
    if len(planes) == 1:
        p0 = planes[0] * scale if precision != 8 else planes[0]
        out = np.clip(np.round(p0), 0, 255).astype(np.uint8)
        return w, h, out.tobytes()
    if len(planes) == 4:
        # CMYK / YCCK (print-production PDFs): Adobe APP14 files
        # store INVERTED CMYK (the Photoshop convention); YCCK
        # (transform 2) stores YCbCr computed from the inverted CMY.
        # Either way the inverted planes convert to RGB directly:
        # R = invC * invK / top (naive un-profiled conversion). All
        # arithmetic runs at NATIVE precision (top = 2^P - 1, center
        # 2^(P-1)) so 12-bit files take the same path as 8-bit ones,
        # with one final rescale to the 8-bit output convention.
        top = float((1 << precision) - 1)
        ctr_f = float(1 << (precision - 1))
        p0, p1, p2, p3 = planes
        if adobe and adobe_transform == 2:  # YCCK
            yy, cb, cr = p0, p1 - ctr_f, p2 - ctr_f
            inv_c = yy + 1.402 * cr
            inv_m = yy - 0.344136 * cb - 0.714136 * cr
            inv_y = yy + 1.772 * cb
            inv_k = p3
        elif adobe:  # Adobe CMYK: stored inverted
            inv_c, inv_m, inv_y, inv_k = p0, p1, p2, p3
        else:  # plain CMYK
            inv_c, inv_m, inv_y = top - p0, top - p1, top - p2
            inv_k = top - p3
        k = np.clip(inv_k, 0.0, top)
        rgb = np.stack(
            [
                np.clip(inv_c, 0.0, top) * k,
                np.clip(inv_m, 0.0, top) * k,
                np.clip(inv_y, 0.0, top) * k,
            ],
            axis=-1,
        ) / top
        if precision != 8:
            rgb = rgb * scale
        out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
        return w, h, out.tobytes()
    ctr = float(1 << (precision - 1))
    y, cb, cr = planes[0], planes[1] - ctr, planes[2] - ctr
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    if precision != 8:
        rgb = rgb * scale
    out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return w, h, out.tobytes()


def decode_jpeg_gray(data: bytes) -> tuple[int, int, bytes]:
    """Like :func:`decode_jpeg` but always returns one luminance byte
    per pixel (BT.601 luma for color inputs) — the shape the
    perceptual-hash and OCR paths consume."""
    w, h, px = decode_jpeg(data)
    if len(px) == w * h:
        return w, h, px
    rgb = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
    return w, h, gray_u8(rgb.astype(np.float64))


def gray_u8(samples) -> bytes:
    """8-bit gray bytes of float64 ``samples`` over 0-255 whose last
    axis holds one pixel's components: 1 (gray, rounded), 3 (RGB:
    BT.601 luma) or 4 (CMYK: the k-operator formula of ISO 32000-1
    §10.3.5). The one gray reduction of the image paths."""
    n = samples.shape[-1]
    if n == 3:
        g = (0.299 * samples[..., 0] + 0.587 * samples[..., 1]
             + 0.114 * samples[..., 2])
    elif n == 4:
        cmyk = samples / 255.0
        g = 255.0 * (
            (1.0 - np.minimum(1.0, cmyk[..., 3]))
            * (1.0 - np.minimum(
                1.0, (cmyk[..., 0] + cmyk[..., 1] + cmyk[..., 2]) / 3.0
            ))
        )
    else:
        g = samples[..., 0]
    return np.clip(np.round(g), 0, 255).astype(np.uint8).tobytes()
