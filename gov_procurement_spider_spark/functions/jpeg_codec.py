"""Vendored baseline JPEG (JFIF) codec — numpy DCT + spec Huffman tables.

Companion to png_codec.py (round-4 VERDICT item 3): with no PIL in this
container, the *lossy* half of the real-codec gate (PSNR ≥ 40 dB,
phash-distance ≤ budget) had nothing to execute against. Baseline JPEG is
fully public (ITU-T T.81 / ISO 10918-1; quantization + Huffman tables from
Annex K), so this module implements the sequential-baseline subset:

- encode: RGB → YCbCr (JFIF BT.601), 8×8 orthonormal DCT (one numpy
  matmul per plane of blocks), IJG quality scaling, zigzag, DC-differential
  + run/size Huffman with the Annex K tables, 4:4:4 sampling.
- decode: the exact inverse for what this encoder emits — sequential
  baseline, 8-bit, 4:4:4 (Sf=0x11). Progressive scans and subsampled
  chroma raise NotImplementedError (nothing in this pipeline produces
  them; executors with PIL take the C path first).

Entropy coding is per-symbol Python (bounded: test payloads are tiny and
production prefers PIL), but ALL pixel math — color transform, DCT/IDCT,
quantization — is whole-image numpy.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables

# Annex K.1 / K.2 base quantization tables (row-major)
_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

# Annex K.3 Huffman specs: (BITS counts per code length 1..16, HUFFVAL)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))

_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
_AC_LUMA_VALS = [
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

_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119]
_AC_CHROMA_VALS = [
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


def _zigzag() -> np.ndarray:
    """The 64-entry zigzag permutation, generated (not typed) from the
    anti-diagonal walk so there is no table to mistype."""
    out = []
    for s in range(15):
        diag = [(s - c, c) for c in range(max(0, s - 7), min(s, 7) + 1)]
        if s % 2:
            diag.reverse()  # odd diagonals run top-right → bottom-left
        out.extend(diag)
    idx = np.array([r * 8 + c for r, c in out], dtype=np.int64)
    return idx


_ZZ = _zigzag()

# orthonormal 8-point DCT-II matrix: JPEG's FDCT/IDCT pair is exactly
# coef = T @ block @ T.T (the 1/4·C(u)C(v) spelling collapses into the
# orthonormal scale factors)
_T = np.zeros((8, 8))
for _k in range(8):
    _c = np.sqrt(0.5) if _k == 0 else 1.0
    _T[_k] = np.sqrt(2.0 / 8.0) * _c * np.cos((2 * np.arange(8) + 1) * _k * np.pi / 16)


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling (public libjpeg convention)."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    qt = []
    for base in (_QT_LUMA, _QT_CHROMA):
        t = (base * scale + 50) // 100
        qt.append(np.clip(t, 1, 255).astype(np.int32))
    return qt[0], qt[1]


def _build_huffman(bits: list[int], vals: list[int]):
    """Canonical code assignment → ({symbol: (code, length)} for encode,
    {(length, code): symbol} for decode)."""
    enc: dict[int, tuple[int, int]] = {}
    dec: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = vals[k]
            enc[sym] = (code, length)
            dec[(length, code)] = sym
            code += 1
            k += 1
        code <<= 1
    return enc, dec


_DC_L_ENC, _DC_L_DEC = _build_huffman(_DC_LUMA_BITS, _DC_LUMA_VALS)
_DC_C_ENC, _DC_C_DEC = _build_huffman(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
_AC_L_ENC, _AC_L_DEC = _build_huffman(_AC_LUMA_BITS, _AC_LUMA_VALS)
_AC_C_ENC, _AC_C_DEC = _build_huffman(_AC_CHROMA_BITS, _AC_CHROMA_VALS)


# ------------------------------------------------------------ color + DCT


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    """JFIF BT.601 full-range transform, float64, (h, w, 3)."""
    p = px.astype(np.float64)
    r, g, b = p[..., 0], p[..., 1], p[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(p: np.ndarray) -> np.ndarray:
    y, cb, cr = p[..., 0], p[..., 1] - 128.0, p[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) with H,W multiples of 8 → (n, 8, 8) in raster block order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    return (
        blocks.reshape(h // 8, w // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h, w)
    )


# ------------------------------------------------------------- bit stream


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0

    def read_bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("jpeg: entropy stream exhausted")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("jpeg: unexpected marker in entropy data")
                self.pos += 1  # skip stuffed zero
            self._acc = byte
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("jpeg: invalid huffman code")


def _magnitude(v: int) -> tuple[int, int]:
    """value → (size category, amplitude bits per T.81 F.1.2.1)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, v if v >= 0 else v + (1 << size) - 1


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


# ----------------------------------------------------------------- encode


def encode_jpeg(pixels: np.ndarray, quality: int = 90) -> bytes:
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("encode_jpeg expects (h, w, 3) uint8")
    h, w, _ = px.shape
    qt_l, qt_c = _quality_tables(quality)
    # edge-replicate pad to 8×8 multiples
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    ycc = _rgb_to_ycbcr(px)
    ycc = np.pad(ycc, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    # all-blocks DCT + quantize per component, one einsum per plane
    comps = []
    for ci in range(3):
        blocks = _to_blocks(ycc[..., ci]) - 128.0
        coef = np.einsum("ij,njk,lk->nil", _T, blocks, _T)
        q = qt_l if ci == 0 else qt_c
        comps.append(np.round(coef / q).astype(np.int32))

    bw = _BitWriter()
    pred = [0, 0, 0]
    n_blocks = comps[0].shape[0]
    for bi in range(n_blocks):  # 4:4:4 MCU = one block per component
        for ci in range(3):
            dc_enc = _DC_L_ENC if ci == 0 else _DC_C_ENC
            ac_enc = _AC_L_ENC if ci == 0 else _AC_C_ENC
            zz = comps[ci][bi].ravel()[_ZZ]
            diff = int(zz[0]) - pred[ci]
            pred[ci] = int(zz[0])
            size, amp = _magnitude(diff)
            code, length = dc_enc[size]
            bw.write(code, length)
            if size:
                bw.write(amp, size)
            run = 0
            nz = np.flatnonzero(zz[1:])
            last = int(nz[-1]) + 1 if len(nz) else 0
            for k in range(1, last + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_enc[0xF0]  # ZRL
                    bw.write(code, length)
                    run -= 16
                size, amp = _magnitude(v)
                code, length = ac_enc[(run << 4) | size]
                bw.write(code, length)
                bw.write(amp, size)
                run = 0
            if last < 63:
                code, length = ac_enc[0x00]  # EOB
                bw.write(code, length)
    bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, qt in ((0, qt_l), (1, qt_c)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid)
        out += bytes(int(x) for x in qt.ravel()[_ZZ])
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        out += bytes([cid, 0x11, tq])  # 4:4:4
    for tc_th, bits, vals in (
        (0x00, _DC_LUMA_BITS, _DC_LUMA_VALS),
        (0x10, _AC_LUMA_BITS, _AC_LUMA_VALS),
        (0x01, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
        (0x11, _AC_CHROMA_BITS, _AC_CHROMA_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid, tables in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += bytes([cid, tables])
    out += b"\x00\x3f\x00"  # Ss/Se/AhAl for baseline
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ----------------------------------------------------------------- decode


def decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: bad SOI")
    qt: dict[int, np.ndarray] = {}
    huff: dict[int, dict[tuple[int, int], int]] = {}
    h = w = None
    comp_q: list[int] = []
    comp_tables: list[int] = []
    pos = 2
    scan_start = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg: marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq_tq = seg[p]
                if pq_tq >> 4 != 0:
                    raise NotImplementedError("jpeg: 16-bit quant tables")
                t = np.zeros(64, dtype=np.int32)
                t[_ZZ] = np.frombuffer(seg[p + 1 : p + 65], dtype=np.uint8)
                qt[pq_tq & 0xF] = t.reshape(8, 8)
                p += 65
        elif marker == 0xC0:  # SOF0 baseline
            precision, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if precision != 8 or nc != 3:
                raise NotImplementedError("jpeg: only 8-bit 3-component")
            for c in range(nc):
                cid, sampling, tq = seg[6 + 3 * c : 9 + 3 * c]
                if sampling != 0x11:
                    raise NotImplementedError("jpeg: subsampled chroma")
                comp_q.append(tq)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError("jpeg: non-baseline SOF")
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc_th = seg[p]
                bits = list(seg[p + 1 : p + 17])
                nvals = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nvals])
                _, dec = _build_huffman(bits, vals)
                huff[tc_th] = dec
                p += 17 + nvals
        elif marker == 0xDD:
            raise NotImplementedError("jpeg: restart intervals")
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            for c in range(ns):
                comp_tables.append(seg[2 + 2 * c])
            scan_start = pos + 2 + seglen
            break
        pos += 2 + seglen
    if scan_start is None or h is None:
        raise ValueError("jpeg: missing SOS/SOF")

    # entropy data runs to EOI; the reader handles stuffed 0xFF00 itself
    end = data.rfind(b"\xff\xd9")
    br = _BitReader(data[scan_start : end if end > 0 else len(data)])
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    n_blocks = (ph // 8) * (pw // 8)
    comps = [np.zeros((n_blocks, 64), dtype=np.int32) for _ in range(3)]
    pred = [0, 0, 0]
    for bi in range(n_blocks):
        for ci in range(3):
            dc_dec = huff[comp_tables[ci] >> 4]
            ac_dec = huff[0x10 | (comp_tables[ci] & 0xF)]
            zz = comps[ci][bi]
            size = br.read_symbol(dc_dec)
            pred[ci] += _extend(br.read_bits(size), size)
            zz[0] = pred[ci]
            k = 1
            while k < 64:
                rs = br.read_symbol(ac_dec)
                if rs == 0x00:  # EOB
                    break
                run, size = rs >> 4, rs & 0xF
                if size == 0:
                    if run != 15:
                        raise ValueError("jpeg: bad run/size")
                    k += 16  # ZRL
                    continue
                k += run
                if k > 63:
                    raise ValueError("jpeg: coefficient overrun")
                zz[k] = _extend(br.read_bits(size), size)
                k += 1

    planes = []
    for ci in range(3):
        coef = np.zeros((n_blocks, 64), dtype=np.float64)
        coef[:, _ZZ] = comps[ci]  # de-zigzag
        coef = coef.reshape(-1, 8, 8) * qt[comp_q[ci]]
        blocks = np.einsum("ji,njk,kl->nil", _T, coef, _T) + 128.0
        planes.append(_from_blocks(blocks, ph, pw)[:h, :w])
    return _ycbcr_to_rgb(np.stack(planes, axis=-1))
