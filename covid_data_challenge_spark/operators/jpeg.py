"""JFIF JPEG codec — pure stdlib + numpy, no PIL/libjpeg.

Un-gates the single most common real-world image format for the
multimodal feature-extraction path (VERDICT r6 "What's missing" #1; the
r6 PNG decoder proved the pure-stdlib kernel pattern). The DECODER is
the product — a multi-scan coefficient-buffer machine covering:

- ITU T.81 baseline sequential (SOF0), interleaved OR per-component
  non-interleaved scans (r8, ADVICE fix — such files used to silently
  decode only their first scan);
- progressive (SOF2, r8 — VERDICT r7 missing #2): spectral selection
  and successive approximation, DC/AC first and refinement passes
  (T.81 G.1.2 / G.2);
- 8-bit, grayscale or YCbCr with sampling factors 1-2 (4:4:4 / 4:2:2 /
  4:2:0), multiple DQT/DHT segments, restart intervals, entropy
  byte-stuffing, 0xFF fill bytes before markers (B.1.1.2).

Anything else (arithmetic coding, hierarchical, 12-bit) returns
``None``, the same quarantine contract as ``decode_png``/``decode_ppm``.
The ENCODERS exist to make the decoder testable without binary
fixtures: ``encode_jpeg_baseline`` (standard Annex K tables,
libjpeg-convention quality scaling, optional 4:2:0 and restart
markers), ``encode_jpeg_baseline_noninterleaved`` (same coefficients as
three single-component scans), and ``encode_jpeg_progressive`` (a
12-scan spectral-selection + successive-approximation script) — all
three produce IDENTICAL quantized coefficients for the same inputs, so
cross-layout decode equality is exact and pinned in pytest.

Decode math is float64 separable IDCT per block, and the encoders'
FDCT is its transpose. Both go through :func:`separable_product`,
which sums every matrix product sequentially over k, left to right,
with plain numpy multiply and add, never BLAS. A BLAS ``@`` picks its
kernel from the CPU at run time (OpenBLAS ``DYNAMIC_ARCH``), and the
FMA kernels round differently from the others: enough to move a
near-half quantization tie, so one media-corpus image encoded to
different bytes on different CPUs. Numpy never fuses a multiply and an
add, so the fixed order gives the same IEEE-754 bits on every CPU and
BLAS build. A decode kernel already runs per row inside an
Arrow-batched ``mapInPandas``, so clarity beats micro-optimization; at
100 TB the parallelism comes from partitioning media rows, not from
the per-block loop. JPEG is lossy: round-trip tests assert error
BOUNDS (and exact flatness for DC-only images), not pixel equality —
the PNG/PPM decoders keep the pixel-exact roundtrip duty.

Reference behavior (not code): reference repo has no media path at all;
this extends the engine's multimodal tier (SURVEY.md LLM-pipeline
scope).
"""

from __future__ import annotations

import struct

import numpy as np

# --- ITU T.81 Annex K.1/K.2: base quantization tables (raster order) ---
QT_LUM = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int32,
).reshape(8, 8)

QT_CHROM = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int32,
).reshape(8, 8)

#: zigzag scan order: ZIGZAG[k] = (row, col) of the k-th coefficient
ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]

# --- ITU T.81 Annex K.3: standard Huffman tables as (bits, huffval) ---
# bits[i] = number of codes of length i+1 (16 entries)
HT_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HT_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
HT_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
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
    ],
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix A: block_dct = A @ B @ A.T."""
    a = np.zeros((8, 8), dtype=np.float64)
    for u in range(8):
        c = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            a[u, x] = c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return a


_A = _dct_matrix()


def separable_product(m: np.ndarray, x: np.ndarray) -> np.ndarray:
    """``m @ x @ m.T`` in a fixed summation order, without BLAS.

    ``(m @ x)`` is computed first, then ``(...) @ m.T``. Each product
    ``a @ b`` is summed sequentially over k, left to right:
    ``out[i, j] = ((a[i, 0]*b[0, j] + a[i, 1]*b[1, j]) + a[i, 2]*b[2, j])
    + ...``, every product and every sum rounded to float64 on its own.
    So the bits depend only on IEEE-754, never on which BLAS kernel the
    CPU selects (FMA kernels move near-half rounding ties). With ``m``
    the DCT matrix this is the forward 2-D DCT; with ``m.T`` it is the
    inverse."""
    return _matmul_fixed(_matmul_fixed(m, x), m.T)


def _matmul_fixed(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``a @ b`` summed sequentially over k (see separable_product)."""
    acc = a[:, 0:1] * b[0:1, :]
    for k in range(1, a.shape[1]):
        acc = acc + a[:, k : k + 1] * b[k : k + 1, :]
    return acc


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg-convention quality scaling, clamped to [1, 255]."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


def _build_codes(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 C.2 canonical code assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decoder(bits: list[int], huffval: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, the decode-side view of _build_codes."""
    return {
        (length, code): sym
        for sym, (code, length) in _build_codes(bits, huffval).items()
    }


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # entropy byte-stuffing
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _encode_block(
    block: np.ndarray,
    qt: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    pred: int,
    bw: _BitWriter,
) -> int:
    """FDCT + quantize + zigzag + Huffman one 8x8 block; returns new DC
    predictor."""
    coef = separable_product(_A, block.astype(np.float64) - 128.0)
    q = np.round(coef / qt).astype(np.int32)
    zz = [int(q[r, c]) for (r, c) in ZIGZAG]
    return _encode_coef_block(zz, dc_codes, ac_codes, pred, bw)


def _encode_coef_block(
    zz: list[int],
    dc_codes: dict,
    ac_codes: dict,
    pred: int,
    bw: _BitWriter,
) -> int:
    """Huffman-encode one block's zigzag coefficients (full spectrum,
    sequential); returns the new DC predictor."""
    diff = zz[0] - pred
    s = _category(diff)
    code, length = dc_codes[s]
    bw.write(code, length)
    if s:
        bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_codes[(run << 4) | s]
        bw.write(code, length)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz != 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return zz[0]


def _test_pattern(width: int, height: int, seed: int) -> np.ndarray:
    """The shared PPM/PNG affine fixture pattern — (h, w, 3) uint8."""
    y, x, c = np.mgrid[0:height, 0:width, 0:3]
    return ((x * 7 + y * 13 + c * 29 + seed) % 256).astype(np.uint8)


def rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    """JFIF full-range YCbCr, float64 (h, w, 3)."""
    f = img.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)


def _encode_planes(
    img: np.ndarray, subsample: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int, int]:
    """RGB → (Y, Cb, Cr) planes edge-padded to the MCU grid, with 2×2
    mean chroma downsampling when ``subsample`` — the single plane
    pipeline shared by every encoder variant (bit-identical inputs →
    bit-identical quantized coefficients across scan layouts)."""
    height, width = img.shape[0], img.shape[1]
    ycc = rgb_to_ycbcr(img)
    mcu = 16 if subsample else 8
    ph = (height + mcu - 1) // mcu * mcu
    pw = (width + mcu - 1) // mcu * mcu
    pad = np.pad(ycc, ((0, ph - height), (0, pw - width), (0, 0)), mode="edge")
    yp = pad[..., 0]
    if subsample:
        cbp = pad[..., 1].reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        crp = pad[..., 2].reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
    else:
        cbp, crp = pad[..., 1], pad[..., 2]
    return yp, cbp, crp, ph, pw


def encode_jpeg_baseline(
    width: int,
    height: int,
    seed: int = 0,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
    img: np.ndarray | None = None,
) -> bytes:
    """Deterministic baseline JFIF JPEG for fixtures/tests: standard
    Annex K tables (quality-scaled), 4:4:4 by default or 4:2:0 with
    ``subsample=True``, optional restart markers. ``img`` overrides the
    affine test pattern with an explicit (h, w, 3) uint8 array."""
    if img is None:
        img = _test_pattern(width, height, seed)
    else:
        img = np.asarray(img, dtype=np.uint8)
        height, width = img.shape[0], img.shape[1]
    qt_l = _scaled_qt(QT_LUM, quality)
    qt_c = _scaled_qt(QT_CHROM, quality)
    dc_l, ac_l = _build_codes(*HT_DC_LUM), _build_codes(*HT_AC_LUM)
    dc_c, ac_c = _build_codes(*HT_DC_CHROM), _build_codes(*HT_AC_CHROM)

    yp, cbp, crp, ph, pw = _encode_planes(img, subsample)
    mcu = 16 if subsample else 8

    bw = _BitWriter()
    preds = [0, 0, 0]
    mcus_y, mcus_x = ph // mcu, pw // mcu
    restarts = []
    n_in_interval = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and n_in_interval == restart_interval:
                bw.flush()
                restarts.append(len(bw.out))
                preds = [0, 0, 0]
                n_in_interval = 0
            if subsample:
                for by in range(2):
                    for bx in range(2):
                        r0, c0 = my * 16 + by * 8, mx * 16 + bx * 8
                        preds[0] = _encode_block(
                            yp[r0 : r0 + 8, c0 : c0 + 8], qt_l, dc_l, ac_l,
                            preds[0], bw,
                        )
                r0, c0 = my * 8, mx * 8
                preds[1] = _encode_block(
                    cbp[r0 : r0 + 8, c0 : c0 + 8], qt_c, dc_c, ac_c, preds[1], bw
                )
                preds[2] = _encode_block(
                    crp[r0 : r0 + 8, c0 : c0 + 8], qt_c, dc_c, ac_c, preds[2], bw
                )
            else:
                r0, c0 = my * 8, mx * 8
                preds[0] = _encode_block(
                    yp[r0 : r0 + 8, c0 : c0 + 8], qt_l, dc_l, ac_l, preds[0], bw
                )
                preds[1] = _encode_block(
                    cbp[r0 : r0 + 8, c0 : c0 + 8], qt_c, dc_c, ac_c, preds[1], bw
                )
                preds[2] = _encode_block(
                    crp[r0 : r0 + 8, c0 : c0 + 8], qt_c, dc_c, ac_c, preds[2], bw
                )
            n_in_interval += 1
    bw.flush()
    entropy = bytes(bw.out)
    # splice restart markers at the recorded byte offsets
    if restarts:
        parts = []
        prev = 0
        for i, off in enumerate(restarts):
            parts.append(entropy[prev:off])
            parts.append(bytes([0xFF, 0xD0 + (i % 8)]))
            prev = off
        parts.append(entropy[prev:])
        entropy = b"".join(parts)

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def zz_bytes(qt: np.ndarray) -> bytes:
        return bytes(int(qt[r, c]) for (r, c) in ZIGZAG)

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + zz_bytes(qt_l))
    out += seg(0xDB, b"\x01" + zz_bytes(qt_c))
    hv_y = 0x22 if subsample else 0x11
    sof = struct.pack(">BHHB", 8, height, width, 3)
    sof += bytes([1, hv_y, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    out += seg(0xC0, sof)
    for cls_id, (bits, huffval) in (
        (0x00, HT_DC_LUM),
        (0x10, HT_AC_LUM),
        (0x01, HT_DC_CHROM),
        (0x11, HT_AC_CHROM),
    ):
        out += seg(0xC4, bytes([cls_id]) + bytes(bits) + bytes(huffval))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([3]) + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """MSB-first bit reader over de-stuffed entropy bytes."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise EOFError
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_huff(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("bad huffman code")


def _decode_block_seq(
    br: _BitReader, dc_tab: dict, ac_tab: dict, zz: list, pred: int
) -> int:
    """Full-spectrum sequential block decode into ``zz`` (64 ints in
    zigzag order); returns the new DC predictor."""
    s = _decode_huff(br, dc_tab)
    diff = _extend(br.read_bits(s), s) if s else 0
    dc = pred + diff
    zz[0] = dc
    k = 1
    while k < 64:
        rs = _decode_huff(br, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past block end")
        zz[k] = _extend(br.read_bits(s), s)
        k += 1
    return dc


def _split_entropy(payload: bytes, start: int) -> tuple[list[bytes], int]:
    """Split one scan's entropy stream (starting at ``start``) into
    restart segments with byte-stuffing removed; returns (segments,
    end) where ``end`` is the offset of the 0xFF opening the marker
    that terminated the scan (or len(payload)). 0xFF fill bytes before
    a marker (T.81 B.1.1.2) are legal inside the stream."""
    segments: list[bytes] = []
    cur = bytearray()
    i = start
    while i < len(payload):
        b = payload[i]
        if b == 0xFF:
            nxt = payload[i + 1] if i + 1 < len(payload) else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                i += 2
                continue
            if nxt == 0xFF:  # fill byte before an upcoming marker
                i += 1
                continue
            if 0xD0 <= nxt <= 0xD7:  # RSTn
                segments.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            break  # EOI or next marker header
        cur.append(b)
        i += 1
    segments.append(bytes(cur))
    return segments, i


class _RestartReader:
    """Bit reader over a scan's restart segments: ``restart()`` advances
    to the next RST-delimited segment (raising if the stream ran out)."""

    def __init__(self, segments: list[bytes]) -> None:
        self.segments = segments
        self.idx = 0
        self.br = _BitReader(segments[0])

    def restart(self) -> None:
        self.idx += 1
        if self.idx >= len(self.segments):
            raise ValueError("missing restart segment")
        self.br = _BitReader(self.segments[self.idx])


def decode_jpeg(payload: bytes):
    """Parse a JFIF JPEG into an (h, w, 3) uint8 RGB array, or ``None``
    for anything malformed or beyond the supported subset (the
    decode_png quarantine contract). Supported: baseline SOF0
    (interleaved or per-component non-interleaved scans) AND
    progressive SOF2 (spectral selection + successive approximation,
    DC and AC scans, first and refinement passes), 8-bit, 1 or 3
    components, sampling factors 1-2, restart intervals, multi-segment
    DQT/DHT, 0xFF fill bytes before markers, APPn/COM skipping.
    Arithmetic coding, hierarchical, and 12-bit frames quarantine.

    Internally a multi-scan coefficient-buffer machine: every SOS
    accumulates quantized coefficients into per-component block arrays;
    dequantization + IDCT happen once at the end (how progressive
    decoding must work, and a strict superset of the single-scan
    baseline path)."""
    try:
        if payload[:2] != b"\xff\xd8":
            return None
        qts: dict[int, np.ndarray] = {}
        dc_tabs: dict[int, dict] = {}
        ac_tabs: dict[int, dict] = {}
        frame = None
        coefs: list[np.ndarray] | None = None
        restart_interval = 0
        i = 2
        while i < len(payload):
            if payload[i] != 0xFF:
                return None
            j = i + 1  # skip 0xFF fill bytes before the marker (B.1.1.2)
            while j < len(payload) and payload[j] == 0xFF:
                j += 1
            if j >= len(payload):
                return None
            marker = payload[j]
            i = j + 1
            if marker == 0x00:
                return None  # stuffed byte outside entropy data
            if marker == 0xD9:  # EOI
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / stray RST
                continue
            if i + 2 > len(payload):
                return None
            (seg_len,) = struct.unpack(">H", payload[i : i + 2])
            if seg_len < 2:
                return None
            body = payload[i + 2 : i + seg_len]
            if len(body) != seg_len - 2:
                return None
            if marker == 0xDB:  # DQT (possibly several tables per segment)
                j = 0
                while j < len(body):
                    pq, tq = body[j] >> 4, body[j] & 0x0F
                    if pq != 0:  # 16-bit tables: beyond baseline-8
                        return None
                    vals = body[j + 1 : j + 65]
                    if len(vals) < 64:
                        return None
                    qt = np.zeros((8, 8), dtype=np.int32)
                    for idx, (r, c) in enumerate(ZIGZAG):
                        qt[r, c] = vals[idx]
                    qts[tq] = qt
                    j += 65
            elif marker == 0xC4:  # DHT (possibly several)
                j = 0
                while j < len(body):
                    tc, th = body[j] >> 4, body[j] & 0x0F
                    bits = list(body[j + 1 : j + 17])
                    n = sum(bits)
                    huffval = list(body[j + 17 : j + 17 + n])
                    if len(huffval) < n:
                        return None
                    tab = _build_decoder(bits, huffval)
                    (ac_tabs if tc else dc_tabs)[th] = tab
                    j += 17 + n
            elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
                if frame is not None:
                    return None  # multi-frame (hierarchical) not supported
                depth, h, w, nc = struct.unpack(">BHHB", body[:6])
                if depth != 8 or nc not in (1, 3) or h == 0 or w == 0:
                    return None
                comps = []
                for k in range(nc):
                    cid, hv, tq = body[6 + 3 * k : 9 + 3 * k]
                    ch, cv = hv >> 4, hv & 0x0F
                    if ch not in (1, 2) or cv not in (1, 2):
                        return None
                    comps.append(
                        {"id": cid, "h": ch, "v": cv, "tq": tq,
                         "dc_done": False, "ac_done": False}
                    )
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
                mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
                frame = {
                    "h": h, "w": w, "comps": comps,
                    "progressive": marker == 0xC2,
                    "hmax": hmax, "vmax": vmax,
                    "mcus_x": mcus_x, "mcus_y": mcus_y,
                }
                # MCU-padded coefficient grid covers both interleaved
                # and (smaller) non-interleaved block geometry
                coefs = [
                    np.zeros(
                        (mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int32
                    )
                    for c in comps
                ]
            elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                return None  # extended/lossless/arithmetic: unsupported
            elif marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack(">H", body[:2])
            elif marker == 0xDA:  # SOS — entropy data follows
                if frame is None or coefs is None:
                    return None
                ns = body[0]
                if len(body) != 1 + 2 * ns + 3:
                    return None
                scan = []
                for k in range(ns):
                    cs, tdta = body[1 + 2 * k], body[2 + 2 * k]
                    ci = next(
                        (
                            n_
                            for n_, c in enumerate(frame["comps"])
                            if c["id"] == cs
                        ),
                        None,
                    )
                    if ci is None:
                        return None
                    scan.append({"ci": ci, "dc": tdta >> 4, "ac": tdta & 0x0F})
                ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
                ah, al = ahal >> 4, ahal & 0x0F
                i = _decode_scan_into(
                    payload, i + seg_len, frame, scan, coefs,
                    dc_tabs, ac_tabs, restart_interval, ss, se, ah, al,
                )
                continue
            # APPn / COM / DNL / others: skip
            i += seg_len
        if frame is None or coefs is None:
            return None
        if not all(c["dc_done"] for c in frame["comps"]):
            return None  # no scan / not every component covered
        if not frame["progressive"] and not all(
            c["ac_done"] for c in frame["comps"]
        ):
            return None  # baseline: full-spectrum scan required per comp
        return _reconstruct(frame, coefs, qts)
    except Exception:
        return None


def _decode_scan_into(
    payload: bytes,
    start: int,
    frame: dict,
    scan: list[dict],
    coefs: list[np.ndarray],
    dc_tabs: dict,
    ac_tabs: dict,
    restart_interval: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
) -> int:
    """Decode one scan's entropy data into the coefficient buffers;
    returns the payload offset of the marker that ended the scan.
    Raises (→ quarantine) on any malformed geometry or stream."""
    progressive = frame["progressive"]
    ns = len(scan)
    if progressive:
        is_dc = ss == 0
        if is_dc and se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if not is_dc and (ns != 1 or se < ss or se > 63):
            raise ValueError("progressive AC scan must be single-component")
        if ah not in (0, al + 1):
            raise ValueError("bad successive-approximation progression")
    else:
        if (ss, se, ah, al) != (0, 63, 0, 0):
            raise ValueError("baseline scan must cover the full spectrum")
        is_dc = False
    # geometry: a multi-component scan is interleaved and needs every
    # frame component (a partial multi-component scan would need
    # subset-MCU geometry — quarantine rather than decode with wrong
    # geometry); a single-component scan is ALWAYS non-interleaved
    # (T.81 A.2.2) and uses that component's own block grid — including
    # when the frame is single-component with sampling factors > 1
    interleaved = ns > 1
    if ns > 1 and ns != len(frame["comps"]):
        raise ValueError("partial interleaved scan unsupported")

    segments, end = _split_entropy(payload, start)
    rr = _RestartReader(segments)
    comps = frame["comps"]

    if interleaved:
        preds = [0] * ns
        n_in_interval = 0
        for my in range(frame["mcus_y"]):
            for mx in range(frame["mcus_x"]):
                if restart_interval and n_in_interval == restart_interval:
                    rr.restart()
                    preds = [0] * ns
                    n_in_interval = 0
                for si, s in enumerate(scan):
                    c = comps[s["ci"]]
                    arr = coefs[s["ci"]]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            row = my * c["v"] + by
                            col = mx * c["h"] + bx
                            preds[si] = _decode_unit(
                                rr.br, arr[row, col], s, dc_tabs, ac_tabs,
                                progressive, ss, se, ah, al, preds[si], None,
                            )
                n_in_interval += 1
        for s in scan:
            comps[s["ci"]]["dc_done"] = True
            if not progressive:
                comps[s["ci"]]["ac_done"] = True
    else:
        s = scan[0]
        c = comps[s["ci"]]
        cw = -(-(frame["w"] * c["h"]) // frame["hmax"])  # ceil
        chh = -(-(frame["h"] * c["v"]) // frame["vmax"])
        nbx, nby = -(-cw // 8), -(-chh // 8)
        arr = coefs[s["ci"]]
        pred = 0
        eob_state = [0]  # EOBRUN carries across blocks in an AC scan
        n_in_interval = 0
        for row in range(nby):
            for col in range(nbx):
                if restart_interval and n_in_interval == restart_interval:
                    rr.restart()
                    pred = 0
                    eob_state[0] = 0
                    n_in_interval = 0
                pred = _decode_unit(
                    rr.br, arr[row, col], s, dc_tabs, ac_tabs,
                    progressive, ss, se, ah, al, pred, eob_state,
                )
                n_in_interval += 1
        if progressive and ss == 0:
            c["dc_done"] = True
        elif progressive:
            if se == 63:
                c["ac_done"] = True
        else:
            c["dc_done"] = True
            c["ac_done"] = True
    return end


def _decode_unit(
    br: _BitReader,
    zz: np.ndarray,
    s: dict,
    dc_tabs: dict,
    ac_tabs: dict,
    progressive: bool,
    ss: int,
    se: int,
    ah: int,
    al: int,
    pred: int,
    eob_state: list | None,
) -> int:
    """Decode one block's contribution for the current scan type into
    the zigzag-order coefficient row ``zz``; returns the DC predictor."""
    if not progressive:
        tmp = [0] * 64
        pred = _decode_block_seq(br, dc_tabs[s["dc"]], ac_tabs[s["ac"]], tmp, pred)
        zz[:] = tmp
        return pred
    if ss == 0:  # DC scan
        if ah == 0:  # first pass
            sym = _decode_huff(br, dc_tabs[s["dc"]])
            diff = _extend(br.read_bits(sym), sym) if sym else 0
            pred += diff
            zz[0] = pred << al
        else:  # refinement: one bit
            if br.read_bit():
                zz[0] = int(zz[0]) | (1 << al)
        return pred
    # AC scan (single component; eob_state is the scan-level EOBRUN)
    assert eob_state is not None
    act = ac_tabs[s["ac"]]
    if ah == 0:  # first pass (T.81 G.1.2.2, libjpeg decode_mcu_AC_first)
        if eob_state[0] > 0:
            eob_state[0] -= 1
            return pred
        k = ss
        while k <= se:
            rs = _decode_huff(br, act)
            r, sbits = rs >> 4, rs & 0x0F
            if sbits:
                k += r
                if k > se:
                    raise ValueError("AC run past band end")
                zz[k] = _extend(br.read_bits(sbits), sbits) << al
                k += 1
            else:
                if r != 15:  # EOBn
                    eob_state[0] = (1 << r) - 1
                    if r:
                        eob_state[0] += br.read_bits(r)
                    break
                k += 16  # ZRL
        return pred
    # refinement pass (T.81 G.1.2.3, libjpeg decode_mcu_AC_refine)
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eob_state[0] == 0:
        while k <= se:
            rs = _decode_huff(br, act)
            r, sbits = rs >> 4, rs & 0x0F
            newval = 0
            if sbits == 0:
                if r != 15:  # EOBn: rest of band via correction loop below
                    eob_state[0] = 1 << r
                    if r:
                        eob_state[0] += br.read_bits(r)
                    break
                # r == 15 (ZRL): skip 16 zero-history coefficients
            else:
                if sbits != 1:
                    raise ValueError("bad refinement magnitude")
                newval = p1 if br.read_bit() else m1
            while k <= se:
                cur = int(zz[k])
                if cur != 0:
                    if br.read_bit() and (cur & p1) == 0:
                        zz[k] = cur + (p1 if cur >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                zz[k] = newval
            k += 1
    if eob_state[0] > 0:
        while k <= se:
            cur = int(zz[k])
            if cur != 0:
                if br.read_bit() and (cur & p1) == 0:
                    zz[k] = cur + (p1 if cur >= 0 else m1)
            k += 1
        eob_state[0] -= 1
    return pred


def _reconstruct(frame: dict, coefs: list[np.ndarray], qts: dict):
    """Dequantize + IDCT every accumulated block, assemble planes,
    upsample, crop, color-convert — the single output stage shared by
    baseline and progressive paths."""
    h, w = frame["h"], frame["w"]
    comps = frame["comps"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    full = []
    for ci, c in enumerate(comps):
        qt = qts[c["tq"]]
        arr = coefs[ci]
        nby, nbx = arr.shape[0], arr.shape[1]
        plane = np.zeros((nby * 8, nbx * 8), dtype=np.uint8)
        for row in range(nby):
            for col in range(nbx):
                coef = np.zeros((8, 8), dtype=np.float64)
                zz = arr[row, col]
                for idx, (r_, c_) in enumerate(ZIGZAG):
                    coef[r_, c_] = int(zz[idx]) * qt[r_, c_]
                block = separable_product(_A.T, coef) + 128.0
                plane[row * 8 : row * 8 + 8, col * 8 : col * 8 + 8] = np.clip(
                    np.round(block), 0, 255
                ).astype(np.uint8)
        p = np.repeat(
            np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        full.append(p[:h, :w].astype(np.float64))
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    return ycbcr_to_rgb(full[0], full[1], full[2])


# ---------------------------------------------------------------------------
# Coefficient-array encoders: non-interleaved baseline and progressive
# (SOF2) fixture generators. Both reuse _encode_planes + the same
# per-block FDCT/round as encode_jpeg_baseline, so all three scan
# layouts of the same (img, quality, subsample) carry IDENTICAL
# quantized coefficients — decode equality across layouts is exact and
# pinned in pytest.
# ---------------------------------------------------------------------------


def _quantize_plane(plane: np.ndarray, qt: np.ndarray, nby: int, nbx: int) -> np.ndarray:
    """FDCT + quantize each 8×8 block → (nby, nbx, 64) int32 in zigzag
    order. Same per-block FDCT + np.round op order as _encode_block."""
    out = np.zeros((nby, nbx, 64), dtype=np.int32)
    zz_r = [r for (r, _) in ZIGZAG]
    zz_c = [c for (_, c) in ZIGZAG]
    for row in range(nby):
        for col in range(nbx):
            block = plane[row * 8 : row * 8 + 8, col * 8 : col * 8 + 8]
            coef = separable_product(_A, block.astype(np.float64) - 128.0)
            q = np.round(coef / qt).astype(np.int32)
            out[row, col] = q[zz_r, zz_c]
    return out


def _coef_components(
    img: np.ndarray, quality: int, subsample: bool
) -> tuple[list[np.ndarray], np.ndarray, np.ndarray]:
    """Quantized coefficient arrays for Y/Cb/Cr on the MCU-padded block
    grid → ([y, cb, cr], qt_l, qt_c)."""
    qt_l = _scaled_qt(QT_LUM, quality)
    qt_c = _scaled_qt(QT_CHROM, quality)
    yp, cbp, crp, ph, pw = _encode_planes(img, subsample)
    y = _quantize_plane(yp, qt_l, ph // 8, pw // 8)
    if subsample:
        cb = _quantize_plane(cbp, qt_c, ph // 16, pw // 16)
        cr = _quantize_plane(crp, qt_c, ph // 16, pw // 16)
    else:
        cb = _quantize_plane(cbp, qt_c, ph // 8, pw // 8)
        cr = _quantize_plane(crp, qt_c, ph // 8, pw // 8)
    return [y, cb, cr], qt_l, qt_c


def _splice_restarts(entropy: bytes, restarts: list[int]) -> bytes:
    """Insert RSTn markers at the recorded byte offsets."""
    if not restarts:
        return entropy
    parts = []
    prev = 0
    for i, off in enumerate(restarts):
        parts.append(entropy[prev:off])
        parts.append(bytes([0xFF, 0xD0 + (i % 8)]))
        prev = off
    parts.append(entropy[prev:])
    return b"".join(parts)


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _zz_bytes(qt: np.ndarray) -> bytes:
    return bytes(int(qt[r, c]) for (r, c) in ZIGZAG)


def _ni_grid(width: int, height: int, ch: int, cv: int, hmax: int, vmax: int) -> tuple[int, int]:
    """Non-interleaved block grid of a component (T.81 A.2.2):
    ceil(ceil(dim·sampling/max_sampling) / 8) per axis → (nbx, nby)."""
    cw = -(-(width * ch) // hmax)
    chh = -(-(height * cv) // vmax)
    return -(-cw // 8), -(-chh // 8)


def encode_jpeg_baseline_noninterleaved(
    width: int,
    height: int,
    seed: int = 0,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
    img: np.ndarray | None = None,
) -> bytes:
    """Legal baseline JPEG whose three components are encoded as three
    SEPARATE single-component (non-interleaved) scans — the layout some
    encoders emit for 3-component SOF0 files (ADVICE r7: these used to
    silently mis-decode; now they decode block-exactly). Same tables,
    same quantized coefficients as encode_jpeg_baseline → decode
    equality is exact."""
    if img is None:
        img = _test_pattern(width, height, seed)
    else:
        img = np.asarray(img, dtype=np.uint8)
        height, width = img.shape[0], img.shape[1]
    coefs, qt_l, qt_c = _coef_components(img, quality, subsample)
    dc_l, ac_l = _build_codes(*HT_DC_LUM), _build_codes(*HT_AC_LUM)
    dc_c, ac_c = _build_codes(*HT_DC_CHROM), _build_codes(*HT_AC_CHROM)
    hmax = vmax = 2 if subsample else 1

    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, b"\x00" + _zz_bytes(qt_l))
    out += _seg(0xDB, b"\x01" + _zz_bytes(qt_c))
    hv_y = 0x22 if subsample else 0x11
    sof = struct.pack(">BHHB", 8, height, width, 3)
    sof += bytes([1, hv_y, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    out += _seg(0xC0, sof)
    for cls_id, (bits, huffval) in (
        (0x00, HT_DC_LUM),
        (0x10, HT_AC_LUM),
        (0x01, HT_DC_CHROM),
        (0x11, HT_AC_CHROM),
    ):
        out += _seg(0xC4, bytes([cls_id]) + bytes(bits) + bytes(huffval))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    comp_meta = [
        (1, 0x22 if subsample else 0x11, 0x00, dc_l, ac_l),
        (2, 0x11, 0x11, dc_c, ac_c),
        (3, 0x11, 0x11, dc_c, ac_c),
    ]
    for ci, (cid, hv, tdta, dcc, acc) in enumerate(comp_meta):
        nbx, nby = _ni_grid(width, height, hv >> 4, hv & 0x0F, hmax, vmax)
        bw = _BitWriter()
        pred = 0
        restarts: list[int] = []
        n_in_interval = 0
        for row in range(nby):
            for col in range(nbx):
                if restart_interval and n_in_interval == restart_interval:
                    bw.flush()
                    restarts.append(len(bw.out))
                    pred = 0
                    n_in_interval = 0
                pred = _encode_coef_block(
                    [int(v) for v in coefs[ci][row, col]], dcc, acc, pred, bw
                )
                n_in_interval += 1
        bw.flush()
        out += _seg(0xDA, bytes([1, cid, tdta, 0, 63, 0]))
        out += _splice_restarts(bytes(bw.out), restarts)
    out += b"\xff\xd9"
    return bytes(out)


# flat (fixed-length) Huffman tables for the progressive encoder: the
# Annex-K tables lack the EOBn symbols (0x10..0xE0) progressive AC
# scans need, so fixtures carry their own legal DHTs — which also
# exercises the decoder against non-standard tables.
def _flat_huffman(symbols: list[int], length: int) -> tuple[list[int], list[int]]:
    bits = [0] * 16
    bits[length - 1] = len(symbols)
    return bits, sorted(symbols)


_PROG_DC = _flat_huffman(list(range(12)), 4)
_PROG_AC = _flat_huffman(
    [r << 4 for r in range(15)]  # EOBn
    + [0xF0]  # ZRL
    + [(r << 4) | s for r in range(16) for s in range(1, 11)],
    8,
)


class _ProgWriter:
    """Entropy writer for one progressive AC scan: EOB-run accumulation
    plus the two correction-bit buffers of T.81 G.1.2.3 (bits owed to
    the pending EOB run vs. bits accumulated since the last emitted
    symbol in the current block) — the jcphuff bookkeeping."""

    def __init__(self, ac_codes: dict) -> None:
        self.bw = _BitWriter()
        self.ac = ac_codes
        self.eobrun = 0
        self.be: list[int] = []  # correction bits owed to pending EOBRUN

    def sym(self, symbol: int) -> None:
        code, length = self.ac[symbol]
        self.bw.write(code, length)

    def flush_bits(self, bits: list[int]) -> None:
        for b in bits:
            self.bw.write(b, 1)

    def emit_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.sym(nbits << 4)
            if nbits:
                self.bw.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
            self.flush_bits(self.be)
            self.be = []


def _prog_ac_first_block(pw: _ProgWriter, zz: np.ndarray, ss: int, se: int, al: int) -> None:
    r = 0
    wrote = False
    for k in range(ss, se + 1):
        v = int(zz[k])
        if v >= 0:
            t = v >> al
        else:
            t = -((-v) >> al)
        if t == 0:
            r += 1
            continue
        pw.emit_eobrun()
        while r > 15:
            pw.sym(0xF0)
            r -= 16
        nbits = _category(t)
        pw.sym((r << 4) | nbits)
        pw.bw.write(t if t > 0 else t + (1 << nbits) - 1, nbits)
        r = 0
        wrote = True
    if r > 0 or not wrote:
        pw.eobrun += 1
        if pw.eobrun == 0x7FFF:
            pw.emit_eobrun()


def _prog_ac_refine_block(pw: _ProgWriter, zz: np.ndarray, ss: int, se: int, al: int) -> None:
    absv = []
    eob = ss - 1
    for k in range(ss, se + 1):
        t = abs(int(zz[k])) >> al
        absv.append(t)
        if t == 1:
            eob = k  # last newly-nonzero coefficient
    r = 0
    br: list[int] = []  # correction bits since the last emitted symbol
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            pw.emit_eobrun()
            pw.sym(0xF0)
            r -= 16
            pw.flush_bits(br)
            br = []
        if t > 1:  # history coefficient: buffer its correction bit
            br.append(t & 1)
            continue
        pw.emit_eobrun()
        pw.sym((r << 4) | 1)
        pw.bw.write(1 if int(zz[k]) >= 0 else 0, 1)
        pw.flush_bits(br)
        br = []
        r = 0
    if r > 0 or br:
        pw.eobrun += 1
        pw.be.extend(br)
        if pw.eobrun == 0x7FFF:
            pw.emit_eobrun()


def encode_jpeg_progressive(
    width: int,
    height: int,
    seed: int = 0,
    quality: int = 90,
    subsample: bool = False,
    img: np.ndarray | None = None,
) -> bytes:
    """Deterministic progressive (SOF2) JPEG for fixtures/tests: a
    12-scan script exercising every progressive decode path — an
    interleaved DC first scan (Al=1) + DC refinement, spectral-selection
    AC bands (Y split 1–5 / 6–63, chroma 1–63), and successive
    approximation (Y descends Al 2→1→0, chroma 1→0). Same quantized
    coefficients as the baseline encoders → decode equality with
    encode_jpeg_baseline of the same (img, quality, subsample) is
    EXACT, which is the round-trip oracle the tests pin."""
    if img is None:
        img = _test_pattern(width, height, seed)
    else:
        img = np.asarray(img, dtype=np.uint8)
        height, width = img.shape[0], img.shape[1]
    coefs, qt_l, qt_c = _coef_components(img, quality, subsample)
    dc_codes = _build_codes(*_PROG_DC)
    ac_codes = _build_codes(*_PROG_AC)
    hmax = vmax = 2 if subsample else 1

    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, b"\x00" + _zz_bytes(qt_l))
    out += _seg(0xDB, b"\x01" + _zz_bytes(qt_c))
    hv_y = 0x22 if subsample else 0x11
    sof = struct.pack(">BHHB", 8, height, width, 3)
    sof += bytes([1, hv_y, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    out += _seg(0xC2, sof)  # SOF2: progressive
    out += _seg(0xC4, bytes([0x00]) + bytes(_PROG_DC[0]) + bytes(_PROG_DC[1]))
    out += _seg(0xC4, bytes([0x10]) + bytes(_PROG_AC[0]) + bytes(_PROG_AC[1]))

    comp_ids = [1, 2, 3]
    comp_hv = [(2, 2) if subsample else (1, 1), (1, 1), (1, 1)]
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)

    def sos_header(comp_idx_list: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_idx_list)])
        for ci in comp_idx_list:
            body += bytes([comp_ids[ci], 0x00])
        return _seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    # --- DC first (interleaved, Al=1) + DC refinement (Ah=1→Al=0) ---
    bw = _BitWriter()
    preds = [0, 0, 0]
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(3):
                ch, cv = comp_hv[ci]
                for by in range(cv):
                    for bx in range(ch):
                        dc = int(coefs[ci][my * cv + by, mx * ch + bx, 0]) >> 1
                        diff = dc - preds[ci]
                        preds[ci] = dc
                        s = _category(diff)
                        code, length = dc_codes[s]
                        bw.write(code, length)
                        if s:
                            bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    bw.flush()
    out += sos_header([0, 1, 2], 0, 0, 0, 1)
    out += bytes(bw.out)

    bw = _BitWriter()
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(3):
                ch, cv = comp_hv[ci]
                for by in range(cv):
                    for bx in range(ch):
                        bw.write(int(coefs[ci][my * cv + by, mx * ch + bx, 0]) & 1, 1)
    bw.flush()
    out += sos_header([0, 1, 2], 0, 0, 1, 0)
    out += bytes(bw.out)

    # --- AC scans: non-interleaved per component ---
    def ac_scan(ci: int, ss: int, se: int, ah: int, al: int) -> bytes:
        ch, cv = comp_hv[ci]
        nbx, nby = _ni_grid(width, height, ch, cv, hmax, vmax)
        pw = _ProgWriter(ac_codes)
        for row in range(nby):
            for col in range(nbx):
                if ah == 0:
                    _prog_ac_first_block(pw, coefs[ci][row, col], ss, se, al)
                else:
                    _prog_ac_refine_block(pw, coefs[ci][row, col], ss, se, al)
        pw.emit_eobrun()
        pw.bw.flush()
        return sos_header([ci], ss, se, ah, al) + bytes(pw.bw.out)

    out += ac_scan(0, 1, 5, 0, 2)
    out += ac_scan(0, 6, 63, 0, 2)
    out += ac_scan(1, 1, 63, 0, 1)
    out += ac_scan(2, 1, 63, 0, 1)
    out += ac_scan(0, 1, 5, 2, 1)
    out += ac_scan(0, 6, 63, 2, 1)
    out += ac_scan(0, 1, 5, 1, 0)
    out += ac_scan(0, 6, 63, 1, 0)
    out += ac_scan(1, 1, 63, 1, 0)
    out += ac_scan(2, 1, 63, 1, 0)
    out += b"\xff\xd9"
    return bytes(out)
