"""Pure-numpy baseline JPEG codec (SOF0, 4:4:4, standard Annex K tables).

From-scratch stand-in for the reference's libjpeg driver
(frmts/jpeg/jpgdataset.cpp:1452,2175). Lossy: parity criterion is
PSNR >= 40 dB (the same criterion BASELINE.json sets for lossy
formats), which quality-90 quantization comfortably meets on
natural/gradient content.

DCT / quantization / zigzag are fully vectorized numpy; only the
entropy (Huffman) stage is a per-block Python loop, which is fine
because it runs inside Spark's Arrow-batched UDF workers, already
parallelized across tasks.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

# --- standard quantization tables (ITU-T T.81 Annex K.1) -------------------
_Q_LUMA = np.array(
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
_Q_CHROMA = np.array(
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

# --- zigzag -----------------------------------------------------------------
_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
_IZZ = np.argsort(_ZZ)

# --- standard Huffman tables (Annex K.3) ------------------------------------
_DC_L_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_L_VALS = list(range(12))
_DC_C_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_C_VALS = list(range(12))
_AC_L_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_L_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_C_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_C_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _build_codes(bits, vals):
    """Canonical Huffman: symbol -> (code, length)."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_ENC_DC = (_build_codes(_DC_L_BITS, _DC_L_VALS), _build_codes(_DC_C_BITS, _DC_C_VALS))
_ENC_AC = (_build_codes(_AC_L_BITS, _AC_L_VALS), _build_codes(_AC_C_BITS, _AC_C_VALS))

# orthonormal DCT-II basis
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16.0)
_C *= np.sqrt(2.0 / 8.0)
_C[0, :] *= 1.0 / np.sqrt(2.0)


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    q = np.floor((table * scale + 50) / 100)
    return np.clip(q, 1, 255)


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    a = arr.astype(np.float64)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y, cb, cr):
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) with H, W multiples of 8 -> (n_blocks, 8, 8) in scan order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _unblockify(blocks: np.ndarray, h8: int, w8: int) -> np.ndarray:
    return (
        blocks.reshape(h8 // 8, w8 // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h8, w8)
    )


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category and value bits."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def encode_jpeg(arr: np.ndarray, quality: int = 90,
                gray: bool = False, restart_interval: int = 0,
                subsampling: str = "444") -> bytes:
    """uint8 (h, w, 3) RGB -> 3-component baseline stream; with
    ``gray=True``, uint8 (h, w) -> a single-component (luminance
    only) baseline stream, the shape the reference's 1-band JPEG
    writes (frmts/jpeg/jpgdataset.cpp nBands==1 path).
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers
    every that many MCUs (T.81 §B.2.4.4/E.1.4 — the layout cameras'
    MJPEG streams and error-resilient encoders produce).
    ``subsampling`` is "444" (one block per component per MCU) or
    "420" (2x2-sampled luma + box-mean half-resolution chroma — the
    libjpeg default the wild web corpus is full of)."""
    if subsampling not in ("444", "420"):
        raise ValueError("jpeg codec: subsampling must be 444 or 420")
    if gray:
        if arr.ndim != 2 or arr.dtype != np.uint8:
            raise ValueError("jpeg codec: gray mode takes uint8 (h, w)")
        return _encode_jpeg_planes(
            arr.astype(np.float64)[:, :, None] - 128.0,
            (_quality_scale(_Q_LUMA, quality),), restart_interval)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    if arr.dtype != np.uint8 or arr.shape[2] != 3:
        raise ValueError("jpeg codec: uint8 RGB only")
    qt = (_quality_scale(_Q_LUMA, quality), _quality_scale(_Q_CHROMA, quality))
    return _encode_jpeg_planes(_rgb_to_ycbcr(arr) - 128.0, qt,
                               restart_interval, subsampling)


def _quant_zz(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    blocks = _blockify(plane)
    dct = np.einsum("ij,njk,lk->nil", _C, blocks, _C)
    quant = np.sign(dct) * np.floor(np.abs(dct) / q + 0.5)
    return quant.reshape(-1, 64)[:, _ZZ].astype(np.int32)


def _encode_jpeg_planes(ycc: np.ndarray, qt: tuple,
                        restart_interval: int = 0,
                        subsampling: str = "444") -> bytes:
    # ycc: (h, w, nc) centered float planes; nc == 1 (gray) or 3.
    # subsampling "420" (nc == 3 only): Y at 2x2 sampling, box-mean
    # downsampled chroma, the libjpeg default layout.
    h, w, nc = ycc.shape
    sub420 = subsampling == "420" and nc == 3
    mcu = 16 if sub420 else 8
    pad_h = (-h) % mcu
    pad_w = (-w) % mcu
    if pad_h or pad_w:
        ycc = np.pad(ycc, ((0, pad_h), (0, pad_w), (0, 0)), mode="edge")
    h_p, w_p = ycc.shape[:2]

    # quantized zigzag blocks per component, plane raster order, plus
    # the per-MCU emission order (T.81 §A.2.3: left-to-right,
    # top-to-bottom within the MCU, components interleaved)
    comp_zz = []
    mcu_units: list[list[tuple[int, int]]] = []
    if sub420:
        comp_zz.append(_quant_zz(ycc[:, :, 0], qt[0]))
        half = (ycc[0::2, :, 1:] + ycc[1::2, :, 1:]) / 2.0
        quarter = (half[:, 0::2] + half[:, 1::2]) / 2.0
        comp_zz.append(_quant_zz(quarter[:, :, 0], qt[1]))
        comp_zz.append(_quant_zz(quarter[:, :, 1], qt[1]))
        mcus_x, mcus_y = w_p // 16, h_p // 16
        yw = w_p // 8  # luma blocks per row
        cw = w_p // 16
        for my in range(mcus_y):
            for mx in range(mcus_x):
                units = [(0, (2 * my + v) * yw + 2 * mx + u)
                         for v in (0, 1) for u in (0, 1)]
                units += [(1, my * cw + mx), (2, my * cw + mx)]
                mcu_units.append(units)
    else:
        for ci in range(nc):
            comp_zz.append(_quant_zz(ycc[:, :, ci],
                                     qt[0] if ci == 0 else qt[1]))
        for bi in range(comp_zz[0].shape[0]):
            mcu_units.append([(ci, bi) for ci in range(nc)])

    bw = _BitWriter()
    prev_dc = [0] * nc
    rst_n = 0

    def emit(ci, zz):
        tsel = 0 if ci == 0 else 1
        dc_codes = _ENC_DC[tsel]
        ac_codes = _ENC_AC[tsel]
        diff = int(zz[0]) - prev_dc[ci]
        prev_dc[ci] = int(zz[0])
        s, bits = _magnitude(diff)
        code, length = dc_codes[s]
        bw.write(code, length)
        if s:
            bw.write(bits, s)
        run = 0
        nz = np.nonzero(zz[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]  # ZRL
                bw.write(code, length)
                run -= 16
            s, bits = _magnitude(v)
            code, length = ac_codes[(run << 4) | s]
            bw.write(code, length)
            bw.write(bits, s)
            run = 0
        if last < 63:
            code, length = ac_codes[0x00]  # EOB
            bw.write(code, length)

    for mi, units in enumerate(mcu_units):
        if restart_interval and mi and mi % restart_interval == 0:
            # byte-align (pad 1s), then the raw marker — markers are
            # never byte-stuffed (T.81 §B.1.1.2)
            bw.flush()
            bw.buf += bytes((0xFF, 0xD0 + rst_n))
            rst_n = (rst_n + 1) & 7
            prev_dc = [0] * nc
        for ci, bi in units:
            emit(ci, comp_zz[ci][bi])
    bw.flush()

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, q in enumerate(qt):
        zzq = q.reshape(-1)[_ZZ].astype(np.uint8)
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + zzq.tobytes()
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    y_samp = 0x22 if sub420 else 0x11
    for cid, samp, tq in ((1, y_samp, 0), (2, 0x11, 1),
                          (3, 0x11, 1))[:nc]:
        out += struct.pack("BBB", cid, samp, tq)
    huff_pairs = (
        (0, 0, _DC_L_BITS, _DC_L_VALS),
        (1, 0, _AC_L_BITS, _AC_L_VALS),
        (0, 1, _DC_C_BITS, _DC_C_VALS),
        (1, 1, _AC_C_BITS, _AC_C_VALS),
    )[: 2 * min(nc, 2)]
    for tclass, tid, bits, vals in huff_pairs:
        body = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for cid, tsel in ((1, 0x00), (2, 0x11), (3, 0x11))[:nc]:
        out += struct.pack("BB", cid, tsel)
    out += b"\x00\x3f\x00"  # Ss, Se, Ah/Al
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# progressive encoder (T.81 Annex G, Huffman mode)
# ---------------------------------------------------------------------------

# libjpeg-style default scan script (jcparam.c layout is public via the
# T.81 scan-header grammar): spectral selection + successive
# approximation.  Entries: (comp_indices, Ss, Se, Ah, Al).  The script
# ends with Al=0 refinements on every band, so the decoded coefficients
# are EXACTLY the baseline quantized coefficients — progressive vs
# baseline output pixels are bit-identical.
_PROG_SCRIPT_COLOR = (
    ((0, 1, 2), 0, 0, 0, 1),   # DC first, interleaved
    ((0,), 1, 5, 0, 2),        # AC Y low band, first
    ((1,), 1, 63, 0, 1),       # AC Cb, first
    ((2,), 1, 63, 0, 1),       # AC Cr, first
    ((0,), 6, 63, 0, 2),       # AC Y high band, first
    ((0, 1, 2), 0, 0, 1, 0),   # DC refinement
    ((0,), 1, 63, 2, 1),       # AC Y refinement 2->1
    ((1,), 1, 63, 1, 0),       # AC Cb refinement -> exact
    ((2,), 1, 63, 1, 0),       # AC Cr refinement -> exact
    ((0,), 1, 63, 1, 0),       # AC Y refinement -> exact
)
_PROG_SCRIPT_GRAY = (
    ((0,), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((0,), 6, 63, 0, 2),
    ((0,), 0, 0, 1, 0),
    ((0,), 1, 63, 2, 1),
    ((0,), 1, 63, 1, 0),
)


def _emit_dc_first(bw, zzs, order, Al):
    """Interleaved DC-first scan: codes (coef >> Al) diffs (arithmetic
    shift, T.81 G.1.2.1) with the baseline DC Huffman tables."""
    nc = 1 + max(ci for ci, _ in order)
    prev = [0] * nc
    for ci, bi in order:
        codes = _ENC_DC[0 if ci == 0 else 1]
        v = int(zzs[ci][bi, 0]) >> Al
        diff = v - prev[ci]
        prev[ci] = v
        s, bits = _magnitude(diff)
        code, length = codes[s]
        bw.write(code, length)
        if s:
            bw.write(bits, s)


def _emit_dc_refine(bw, zzs, order, Al):
    for ci, bi in order:
        bw.write((int(zzs[ci][bi, 0]) >> Al) & 1, 1)


def _emit_ac_first(bw, zz_blocks, ac_codes, Ss, Se, Al):
    """AC-first scan over one component (T.81 G.1.2.2): magnitudes are
    sign-preserving truncations |v| >> Al.  EOB runs are flushed at
    length 1 each (plain 0x00) so the standard Annex K tables — which
    lack the EOBn (n>=1) symbols — stay sufficient; any decoder,
    including ours, accepts runs of 1."""
    for zz in zz_blocks:
        run = 0
        wrote = False
        for k in range(Ss, Se + 1):
            v = int(zz[k])
            m = (abs(v) >> Al)
            if m == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]
                bw.write(code, length)
                run -= 16
            s, bits = _magnitude(m if v > 0 else -m)
            code, length = ac_codes[(run << 4) | s]
            bw.write(code, length)
            bw.write(bits, s)
            run = 0
            wrote = True
        if run or not wrote:
            code, length = ac_codes[0x00]  # EOB (run of 1)
            bw.write(code, length)


def _emit_ac_refine(bw, zz_blocks, ac_codes, Ss, Se, Al):
    """AC refinement scan (T.81 G.1.2.3): newly-significant
    coefficients are run-length coded over ZERO-HISTORY positions
    only; already-significant ones contribute buffered correction
    bits appended after the next symbol.  EOB runs again flushed at
    length 1 (Annex K table constraint), carrying that block's
    buffered bits."""
    for zz in zz_blocks:
        absv = [abs(int(zz[k])) >> Al for k in range(Ss, Se + 1)]
        eob = 0  # index AFTER the last newly-significant coefficient
        for j, m in enumerate(absv):
            if m == 1:
                eob = j + 1
        run = 0
        pend: list[int] = []
        for j, m in enumerate(absv):
            if m == 0:
                run += 1
                continue
            # ZRL check at EVERY nonzero-magnitude position (correction
            # or newly-significant) so the decoder's 16-zero walk reads
            # the buffered bits at the positions it actually passes;
            # never past the last new coefficient (folds into EOB).
            while run > 15 and j < eob:
                code, length = ac_codes[0xF0]
                bw.write(code, length)
                run -= 16
                for b in pend:
                    bw.write(b, 1)
                pend = []
            if m > 1:
                pend.append(m & 1)
                continue
            # newly significant (magnitude exactly 1 at this Al)
            code, length = ac_codes[(run << 4) | 1]
            bw.write(code, length)
            bw.write(1 if int(zz[Ss + j]) > 0 else 0, 1)
            for b in pend:
                bw.write(b, 1)
            pend = []
            run = 0
        if run or pend or eob == 0:
            code, length = ac_codes[0x00]  # EOB (run of 1)
            bw.write(code, length)
            for b in pend:
                bw.write(b, 1)


def encode_jpeg_progressive(arr: np.ndarray, quality: int = 90,
                            gray: bool = False) -> bytes:
    """Progressive (SOF2) JPEG: spectral selection + successive
    approximation per T.81 Annex G, mirroring the layout libjpeg's
    default progressive script produces (frmts/jpeg/jpgdataset.cpp
    reads these via jpeg_consume_input multi-scan loops; GDAL's
    JPEG driver exposes them identically to baseline).  Quantization
    is byte-identical to :func:`encode_jpeg` at the same quality, so
    decoded pixels are bit-identical to the baseline stream's —
    progressive is pure entropy reorganization.  4:4:4 / grayscale
    only (the same bound the baseline encoder had before round 4)."""
    if gray:
        if arr.ndim != 2 or arr.dtype != np.uint8:
            raise ValueError("jpeg codec: gray mode takes uint8 (h, w)")
        ycc = arr.astype(np.float64)[:, :, None] - 128.0
        qt = (_quality_scale(_Q_LUMA, quality),)
        script = _PROG_SCRIPT_GRAY
    else:
        if arr.ndim == 2:
            arr = np.repeat(arr[:, :, None], 3, axis=2)
        if arr.dtype != np.uint8 or arr.shape[2] != 3:
            raise ValueError("jpeg codec: uint8 RGB only")
        ycc = _rgb_to_ycbcr(arr) - 128.0
        qt = (_quality_scale(_Q_LUMA, quality),
              _quality_scale(_Q_CHROMA, quality))
        script = _PROG_SCRIPT_COLOR
    h, w, nc = ycc.shape
    pad_h, pad_w = (-h) % 8, (-w) % 8
    if pad_h or pad_w:
        ycc = np.pad(ycc, ((0, pad_h), (0, pad_w), (0, 0)), mode="edge")
    zzs = [_quant_zz(ycc[:, :, ci], qt[0] if ci == 0 else qt[1])
           for ci in range(nc)]
    nblocks = zzs[0].shape[0]

    out = bytearray()
    out += b"\xff\xd8"
    out += (b"\xff\xe0" + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tid, q in enumerate(qt):
        zzq = q.reshape(-1)[_ZZ].astype(np.uint8)
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + zzq.tobytes()
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for cid, samp, tq in ((1, 0x11, 0), (2, 0x11, 1), (3, 0x11, 1))[:nc]:
        out += struct.pack("BBB", cid, samp, tq)
    huff_pairs = (
        (0, 0, _DC_L_BITS, _DC_L_VALS),
        (1, 0, _AC_L_BITS, _AC_L_VALS),
        (0, 1, _DC_C_BITS, _DC_C_VALS),
        (1, 1, _AC_C_BITS, _AC_C_VALS),
    )[: 2 * min(nc, 2)]
    for tclass, tid, bits, vals in huff_pairs:
        body = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    for comps, Ss, Se, Ah, Al in script:
        bw = _BitWriter()
        if Ss == 0:  # DC scan (interleaved over comps)
            order = [(ci, bi) for bi in range(nblocks) for ci in comps]
            if Ah == 0:
                _emit_dc_first(bw, zzs, order, Al)
            else:
                _emit_dc_refine(bw, zzs, order, Al)
        else:  # AC scan: exactly one component (T.81 G.1.1)
            (ci,) = comps
            ac_codes = _ENC_AC[0 if ci == 0 else 1]
            if Ah == 0:
                _emit_ac_first(bw, zzs[ci], ac_codes, Ss, Se, Al)
            else:
                _emit_ac_refine(bw, zzs[ci], ac_codes, Ss, Se, Al)
        bw.flush()
        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps),
                                         len(comps))
        for ci in comps:
            tsel = 0x00 if ci == 0 else 0x11
            out += struct.pack("BB", ci + 1, tsel)
        out += struct.pack("BBB", Ss, Se, (Ah << 4) | Al)
        out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

class _BitReader:
    """Fast reader over a destuffed entropy segment.

    Decoding peeks 16 bits at a time against a flat 2^16 lookup table
    — O(1) Python work per Huffman symbol instead of per bit.
    """

    def __init__(self, data: bytes):
        # destuff 0xFF00 -> 0xFF once, up front
        self.data = data.replace(b"\xff\x00", b"\xff") + b"\xff\xff\xff"
        self.bitpos = 0

    def peek16(self) -> int:
        byte, off = divmod(self.bitpos, 8)
        d = self.data
        v = (d[byte] << 24) | (d[byte + 1] << 16) | (d[byte + 2] << 8) | d[byte + 3]
        return (v >> (16 - off)) & 0xFFFF

    def read_bits(self, n: int) -> int:
        v = self.peek16() >> (16 - n)
        self.bitpos += n
        return v


@lru_cache(maxsize=16)
def _build_decode_table(bits: tuple, vals: tuple) -> tuple:
    """Flat 16-bit-peek table: index -> (symbol << 5) | code_length.

    Building one costs ~5 ms of Python, more than decoding a small
    image, and nearly every file carries the same few DHT tables, so
    tables are memoized per (bits, vals); they are read-only tuples."""
    table = [0] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            base = code << (16 - length)
            entry = (vals[k] << 5) | length
            for i in range(1 << (16 - length)):
                table[base + i] = entry
            code += 1
            k += 1
        code <<= 1
    return tuple(table)


def _huff_decode(br: _BitReader, table) -> int:
    entry = table[br.peek16()]
    if entry == 0:
        raise ValueError("jpeg codec: bad Huffman code")
    br.bitpos += entry & 31
    return entry >> 5


def _extend(bits: int, s: int) -> int:
    if s == 0:
        return 0
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


def _comp_blocks(cid, comps, prog_geom, w, h):
    """Non-interleaved block walk for one component (T.81 §A.2.2):
    the grid is ceil(component samples / 8), NOT the interleave-padded
    MCU grid; indices map into the interleaved storage stride."""
    pmx, _pmy, hmax, vmax = prog_geom["mcus"]
    hi, vi = next((c[2], c[3]) for c in comps if c[0] == cid)
    cw = -(-(w * hi) // hmax)
    ch = -(-(h * vi) // vmax)
    bw_c = -(-cw // 8)
    bh_c = -(-ch // 8)
    stride = pmx * hi
    return [by * stride + bx for by in range(bh_c) for bx in range(bw_c)]


def _decode_prog_scan(entropy, scan_comps, Ss, Se, Ah, Al,
                      comps, prog_geom, prog_coeffs, prog_dc_pred,
                      htables, w, h):
    """One progressive scan (T.81 Annex G.2): DC first/refine
    (interleaved or single-component), AC first/refine with EOB runs
    (single-component by construction, §G.1.1)."""
    br = _BitReader(entropy)
    pmx, pmy, hmax, vmax = prog_geom["mcus"]
    if Ss == 0:  # DC scan
        # block walk: interleaved MCU order when ns > 1, else the
        # component's own grid
        order = []
        if len(scan_comps) > 1:
            for mi in range(pmx * pmy):
                my, mx = divmod(mi, pmx)
                for cid, dct, _act in scan_comps:
                    hi, vi = next((c[2], c[3]) for c in comps
                                  if c[0] == cid)
                    for v in range(vi):
                        for u in range(hi):
                            order.append(
                                (cid, dct,
                                 (my * vi + v) * pmx * hi + mx * hi + u))
        else:
            cid, dct, _act = scan_comps[0]
            order = [(cid, dct, bi)
                     for bi in _comp_blocks(cid, comps, prog_geom, w, h)]
        if Ah == 0:
            pred = {cid: 0 for cid, *_ in scan_comps}
            for cid, dct, bi in order:
                tbl = htables[(0, dct)]
                s = _huff_decode(br, tbl)
                diff = _extend(br.read_bits(s), s) if s else 0
                pred[cid] += diff
                prog_coeffs[cid][bi, 0] = pred[cid] << Al
        else:
            p1 = 1 << Al
            for cid, _dct, bi in order:
                if br.read_bits(1):
                    prog_coeffs[cid][bi, 0] = int(
                        prog_coeffs[cid][bi, 0]) | p1
        return
    # AC scan: exactly one component
    (cid, _dct, act) = scan_comps[0]
    tbl = htables[(1, act)]
    blocks = _comp_blocks(cid, comps, prog_geom, w, h)
    carr = prog_coeffs[cid]
    eobrun = 0
    p1 = 1 << Al
    m1 = -p1
    if Ah == 0:  # AC first
        for bi in blocks:
            if eobrun:
                eobrun -= 1
                continue
            zz = carr[bi]
            k = Ss
            while k <= Se:
                rs = _huff_decode(br, tbl)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r == 15:
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.read_bits(r)
                    break
                k += r
                zz[k] = _extend(br.read_bits(s), s) * p1
                k += 1
    else:  # AC refinement
        for bi in blocks:
            zz = carr[bi]
            k = Ss
            if eobrun == 0:
                while k <= Se:
                    rs = _huff_decode(br, tbl)
                    r, s = rs >> 4, rs & 15
                    newval = 0
                    if s:
                        if s != 1:
                            raise ValueError(
                                "jpeg codec: bad refinement magnitude")
                        newval = p1 if br.read_bits(1) else m1
                    elif r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += br.read_bits(r)
                        break
                    while k <= Se:
                        c = int(zz[k])
                        if c != 0:
                            if br.read_bits(1) and (c & p1) == 0:
                                zz[k] = c + (p1 if c >= 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if s and k <= Se:
                        zz[k] = newval
                    k += 1
            if eobrun > 0:
                while k <= Se:
                    c = int(zz[k])
                    if c != 0:
                        if br.read_bits(1) and (c & p1) == 0:
                            zz[k] = c + (p1 if c >= 0 else m1)
                    k += 1
                eobrun -= 1


def _scan_end(data: bytes, pos: int) -> int:
    """First non-stuffed, non-RST marker at/after ``pos`` (the end of
    an entropy-coded segment, T.81 §B.1.1.5)."""
    p = pos
    while True:
        p = data.index(b"\xff", p)
        m = data[p + 1]
        if m == 0x00 or 0xD0 <= m <= 0xD7:
            p += 2
            continue
        return p


def decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg codec: bad SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    h = w = None
    comps = []  # (cid, tq)
    scan_sel = {}  # cid -> (dc_tid, ac_tid)
    scan_order = []
    restart_interval = 0
    progressive = False
    prog_coeffs: dict[int, np.ndarray] = {}
    prog_geom: dict = {}
    prog_dc_pred: dict[int, int] = {}
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg codec: marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker == 0xD8:
            continue
        (seglen,) = struct.unpack_from(">H", data, pos)
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:
            bpos = 0
            while bpos < len(body):
                pq_tq = body[bpos]
                if pq_tq >> 4 != 0:
                    raise ValueError("jpeg codec: 16-bit qtable unsupported")
                tbl = np.frombuffer(body[bpos + 1 : bpos + 65], dtype=np.uint8)
                q = np.zeros(64)
                q[_ZZ] = tbl
                qtables[pq_tq & 0xF] = q.reshape(8, 8).astype(np.float64)
                bpos += 65
        elif marker in (0xC0, 0xC2):
            progressive = marker == 0xC2
            _prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            for ci in range(nc):
                cid, samp, tq = struct.unpack_from("BBB", body, 6 + 3 * ci)
                hi, vi = samp >> 4, samp & 0xF
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError(
                        "jpeg codec: sampling factors above 2 unsupported")
                comps.append((cid, tq, hi, vi))
        elif marker == 0xC4:
            bpos = 0
            while bpos < len(body):
                tc_th = body[bpos]
                bits = tuple(body[bpos + 1 : bpos + 17])
                nvals = sum(bits)
                vals = tuple(body[bpos + 17 : bpos + 17 + nvals])
                htables[(tc_th >> 4, tc_th & 0xF)] = _build_decode_table(bits, vals)
                bpos += 17 + nvals
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:
            ns = body[0]
            if not progressive:
                for si in range(ns):
                    cid, tsel = struct.unpack_from("BB", body, 1 + 2 * si)
                    scan_sel[cid] = (tsel >> 4, tsel & 0xF)
                    scan_order.append(cid)
                pos += seglen
                break
            # progressive: decode this scan in place, then keep walking
            if restart_interval:
                raise ValueError(
                    "jpeg codec: restart markers in progressive scans "
                    "unsupported")
            if not prog_geom:
                hmax = max(c[2] for c in comps)
                vmax = max(c[3] for c in comps)
                pmx = -(-w // (8 * hmax))
                pmy = -(-h // (8 * vmax))
                prog_geom["mcus"] = (pmx, pmy, hmax, vmax)
                for cid, _tq, hi, vi in comps:
                    prog_coeffs[cid] = np.zeros(
                        (pmx * hi * pmy * vi, 64), dtype=np.int64)
                    prog_dc_pred[cid] = 0
            scan_comps = []
            for si in range(ns):
                cid, tsel = struct.unpack_from("BB", body, 1 + 2 * si)
                scan_comps.append((cid, tsel >> 4, tsel & 0xF))
            Ss, Se, ahal = struct.unpack_from("BBB", body, 1 + 2 * ns)
            Ah, Al = ahal >> 4, ahal & 0xF
            end = _scan_end(data, pos + seglen)
            _decode_prog_scan(
                data[pos + seglen : end], scan_comps, Ss, Se, Ah, Al,
                comps, prog_geom, prog_coeffs, prog_dc_pred, htables,
                w, h)
            pos = end
            continue
        elif 0xC1 <= marker <= 0xCF and marker not in (0xC2, 0xC4, 0xC8,
                                                       0xCC):
            raise ValueError(
                "jpeg codec: only baseline SOF0 / progressive SOF2 "
                "supported")
        pos += seglen

    # MCU geometry from the sampling factors (T.81 §A.2.3): supports
    # 4:4:4, the libjpeg-default 4:2:0, and 4:2:2/4:4:0 read-side
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    geom = {}  # cid -> (hi, vi, blocks_per_row)
    coeffs = {}
    for cid, _tq, hi, vi in comps:
        geom[cid] = (hi, vi, mcus_x * hi)
        coeffs[cid] = (prog_coeffs[cid].astype(np.float64)
                       if progressive
                       else np.zeros((mcus_x * hi * mcus_y * vi, 64),
                                     dtype=np.float64))

    br = _BitReader(data[pos:]) if not progressive else None
    prev_dc = {cid: 0 for cid, *_ in comps}
    for mi in range(0 if progressive else mcus_x * mcus_y):
        if restart_interval and mi and mi % restart_interval == 0:
            # byte-align, consume the RSTn marker, reset predictors
            # (T.81 §E.2.4; markers are never stuffed so they survive
            # the reader's up-front destuffing untouched)
            br.bitpos = (br.bitpos + 7) & ~7
            byte = br.bitpos // 8
            if not (br.data[byte] == 0xFF
                    and 0xD0 <= br.data[byte + 1] <= 0xD7):
                raise ValueError("jpeg codec: missing restart marker")
            br.bitpos += 16
            prev_dc = {cid: 0 for cid, *_ in comps}
        my, mx = divmod(mi, mcus_x)
        for cid in scan_order:
            dc_t = htables[(0, scan_sel[cid][0])]
            ac_t = htables[(1, scan_sel[cid][1])]
            hi, vi, bpr = geom[cid]
            for v in range(vi):
                for u in range(hi):
                    zz = coeffs[cid][(my * vi + v) * bpr + mx * hi + u]
                    s = _huff_decode(br, dc_t)
                    diff = _extend(br.read_bits(s), s) if s else 0
                    prev_dc[cid] += diff
                    zz[0] = prev_dc[cid]
                    k = 1
                    while k < 64:
                        rs = _huff_decode(br, ac_t)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        zz[k] = _extend(br.read_bits(s), s)
                        k += 1

    planes = []
    for cid, tq, hi, vi in comps:
        q = qtables[tq]
        blocks = np.zeros((coeffs[cid].shape[0], 64))
        blocks[:, _ZZ] = coeffs[cid]
        blocks = blocks.reshape(-1, 8, 8) * q
        pix = np.einsum("ji,njk,kl->nil", _C, blocks, _C) + 128.0
        plane = _unblockify(pix, mcus_y * vi * 8, mcus_x * hi * 8)
        # crop to the component's true extent, then replicate up to
        # full resolution (nearest-neighbor chroma upsampling)
        ph = -(-h * vi // vmax)
        pw = -(-w * hi // hmax)
        plane = plane[:ph, :pw]
        if vi != vmax:
            plane = np.repeat(plane, vmax // vi, axis=0)
        if hi != hmax:
            plane = np.repeat(plane, hmax // hi, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:  # single-component (grayscale) stream
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
