"""Baseline sequential JPEG (ITU-T T.81) codec in pure numpy — both
directions, no codec library.

Why both: the container has no PIL/libjpeg, and a decoder alone is
untestable without real JPEG fixtures. The encoder produces honest
baseline JFIF files (SOI/APP0/DQT/SOF0/DHT/SOS/EOI, standard Annex K
quantization + Huffman tables, 4:4:4 — no chroma subsampling), and the
decoder parses any baseline 8-bit file whose sampling factors are 1×1
(i.e. what this encoder emits, plus third-party 4:4:4 baseline files);
4:2:0-subsampled or progressive files raise ``NotImplementedError``
honestly rather than decoding wrong pixels.

Pipeline (encoder): RGB → JFIF YCbCr → level-shift → 8×8 blocks (edge
padding) → orthonormal DCT-II (one einsum over all blocks) → quantize
(Annex K tables scaled by libjpeg's quality formula) → zigzag → DC
differences + AC run-length → canonical Huffman bitstream with 0xFF
byte stuffing. The decoder is the exact inverse; its only non-vector
loop is the Huffman scan, which is inherently sequential.

Quality 100 scales every quantizer to 1, so a roundtrip loses only the
coefficient round-off. Both directions keep YCbCr samples in float and
round to integer pixels once, after colour conversion back to RGB;
rounding the YCbCr planes in between adds two more half-level errors
that the 1.402/1.772 chroma gains amplify past 4 levels. The roundtrip
test pins max |error| ≤ 4 levels without needing a reference codec.

All constants are from the public spec (T.81 Annex K); the zigzag
permutation is derived programmatically rather than transcribed.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- tables

_QUANT_LUMA = np.array(
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
    dtype=np.int64,
)

_QUANT_CHROMA = np.array(
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
    dtype=np.int64,
)

# Annex K Huffman specs: (BITS[1..16], HUFFVAL) per table
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))

_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
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
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
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

for _bits, _vals in (
    (_DC_LUMA_BITS, _DC_LUMA_VALS),
    (_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    (_AC_LUMA_BITS, _AC_LUMA_VALS),
    (_AC_CHROMA_BITS, _AC_CHROMA_VALS),
):
    assert sum(_bits) == len(_vals), "Huffman BITS/HUFFVAL mismatch"


def _zigzag_order() -> np.ndarray:
    """Index permutation flattening an 8×8 block in zigzag order,
    derived from the diagonal-walk definition (not transcribed)."""
    order = []
    for s in range(15):
        diag = [(i, s - i) for i in range(8) if 0 <= s - i < 8]
        if s % 2 == 0:
            diag.reverse()  # even diagonals run bottom-left → top-right
        order.extend(i * 8 + j for i, j in diag)
    return np.array(order, dtype=np.int64)


_ZIGZAG = _zigzag_order()
_UNZIGZAG = np.argsort(_ZIGZAG)

# orthonormal DCT-II basis: C[u, x] = a(u)/2 · cos((2x+1)uπ/16)
_DCT = np.array(
    [
        [
            (np.sqrt(0.125) if u == 0 else 0.5) * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) per the canonical T.81 code assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_ENC_DC = (_canonical_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
           _canonical_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS))
_ENC_AC = (_canonical_codes(_AC_LUMA_BITS, _AC_LUMA_VALS),
           _canonical_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS))


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's quality → table scaling (public knowledge): Q<50 scales
    up by 5000/Q, Q≥50 scales down by 200−2Q; entries clamp to [1, 255]."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int64)


# ---------------------------------------------------------------- encoder


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _magnitude(v: int) -> tuple[int, int]:
    """(category, value-bits): T.81's variable-length integer coding —
    negative values store as value−1 in ``category`` low bits."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = int(a).bit_length()
    bits = v if v > 0 else v + (1 << cat) - 1
    return cat, bits


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """H×W plane → (n_blocks_y, n_blocks_x, 8, 8) with edge padding."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    hh, ww = plane.shape
    return plane.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3)


def _rgb_to_ycbcr_float(px: np.ndarray) -> np.ndarray:
    """JFIF full-range YCbCr, unrounded."""
    p = px.astype(np.float64)
    r, g, b = p[..., 0], p[..., 1], p[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(px: np.ndarray) -> np.ndarray:
    """JFIF YCbCr (uint8 or float) → RGB, rounded and clamped to uint8."""
    p = px.astype(np.float64)
    y, cb, cr = p[..., 0], p[..., 1] - 128.0, p[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def encode_jpeg(pixels: np.ndarray, quality: int = 90) -> bytes:
    """Encode an H×W×3 uint8 RGB array as a baseline JFIF JPEG (4:4:4),
    or an H×W uint8 array as a single-component (greyscale) JPEG."""
    grey = pixels.ndim == 2
    if not grey and (pixels.ndim != 3 or pixels.shape[2] != 3):
        raise ValueError("encode_jpeg expects H x W x 3 (RGB) or H x W (grey) uint8")
    h, w = pixels.shape[:2]
    if h == 0 or w == 0 or h > 65535 or w > 65535:
        raise ValueError(f"bad geometry {w}x{h}")
    ycc = pixels[..., None] if grey else _rgb_to_ycbcr_float(pixels)
    ncomp = ycc.shape[2]
    qtabs = (_scaled_quant(_QUANT_LUMA, quality), _scaled_quant(_QUANT_CHROMA, quality))

    # per-component quantized zigzag coefficients (vectorized DCT)
    comp_coefs = []
    for ci in range(ncomp):
        t = 0 if ci == 0 else 1
        blocks = _blocks_of(ycc[..., ci]).astype(np.float64) - 128.0
        coef = np.einsum("ux,byxv,wv->byuw", _DCT, blocks, _DCT, optimize=True)
        # round half away from zero (plain // truncation biases toward -inf)
        q = coef / qtabs[t][None, None, :, :]
        qz = (np.sign(q) * np.floor(np.abs(q) + 0.5)).astype(np.int64)
        comp_coefs.append(qz.reshape(-1, 64)[:, _ZIGZAG])

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00" + b"\x00\x01\x00\x01\x00\x00"
    n_qtabs = 1 if grey else 2
    for tid, qt in enumerate(qtabs[:n_qtabs]):  # DQT
        out += b"\xff\xdb" + (67).to_bytes(2, "big") + bytes([tid])
        out += bytes(int(x) for x in qt.reshape(-1)[_ZIGZAG])
    # SOF0: baseline, 8-bit, 1×1 sampling each component
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
    dht_specs = [
        (0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS),
        (1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS),
    ]
    if not grey:
        dht_specs += [
            (0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
            (1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS),
        ]
    for tclass, tid, bits, vals in dht_specs:  # DHT
        seg = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + (len(seg) + 2).to_bytes(2, "big") + seg
    sos = bytearray([ncomp])
    for ci in range(ncomp):
        t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos

    bw = _BitWriter()
    prev_dc = [0] * ncomp
    n_mcu = comp_coefs[0].shape[0]
    for m in range(n_mcu):
        for ci in range(ncomp):
            t = 0 if ci == 0 else 1
            zz = comp_coefs[ci][m]
            dc_cat, dc_bits = _magnitude(int(zz[0]) - prev_dc[ci])
            prev_dc[ci] = int(zz[0])
            code, ln = _ENC_DC[t][dc_cat]
            bw.write(code, ln)
            if dc_cat:
                bw.write(dc_bits, dc_cat)
            run = 0
            nz = np.nonzero(zz[1:])[0]
            last = nz[-1] + 1 if len(nz) else 0
            for k in range(1, last + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = _ENC_AC[t][0xF0]  # ZRL
                    bw.write(code, ln)
                    run -= 16
                cat, vbits = _magnitude(v)
                code, ln = _ENC_AC[t][(run << 4) | cat]
                bw.write(code, ln)
                bw.write(vbits, cat)
                run = 0
            if last < 63:
                code, ln = _ENC_AC[t][0x00]  # EOB
                bw.write(code, ln)
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------- decoder


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy stream")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                raise ValueError("unexpected marker in entropy stream")
            self.pos += 1  # skip stuffed zero
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v


def _decode_tree(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol map for sequential Huffman decode."""
    enc = _canonical_codes(bits, vals)
    return {(ln, code): sym for sym, (code, ln) in enc.items()}


def _read_symbol(br: _BitReader, tree: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read(1)
        sym = tree.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(bits: int, cat: int) -> int:
    if cat == 0:
        return 0
    return bits if bits >= (1 << (cat - 1)) else bits - (1 << cat) + 1


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Decode a baseline sequential 8-bit JPEG with 1×1 sampling factors
    (4:4:4, or greyscale) to an H×W×3 uint8 RGB array. Progressive,
    subsampled, arithmetic-coded, or 12-bit files raise
    ``NotImplementedError``; malformed files raise ``ValueError``."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htrees: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[tuple[int, int, int]] = []  # (comp_id, qtab_id, sampling)
    h = w = 0
    scan: list[tuple[int, int, int]] = []  # (comp_index, dc_tab, ac_tab)
    data_start = None

    while pos < len(buf):
        if pos + 2 > len(buf):
            raise ValueError("truncated marker")
        if buf[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01, *range(0xD0, 0xD8)):  # standalone
            continue
        if pos + 2 > len(buf):
            raise ValueError("truncated segment header")
        seglen = int.from_bytes(buf[pos : pos + 2], "big")
        if seglen < 2 or pos + seglen > len(buf):
            raise ValueError("truncated segment")
        seg = buf[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (may hold several tables)
            sp = 0
            while sp < len(seg):
                if sp + 65 > len(seg):
                    raise ValueError("truncated DQT")
                prec, tid = seg[sp] >> 4, seg[sp] & 0xF
                if prec != 0:
                    raise NotImplementedError("16-bit quant tables")
                zz = np.frombuffer(seg[sp + 1 : sp + 65], dtype=np.uint8).astype(np.int64)
                qtabs[tid] = zz[_UNZIGZAG].reshape(8, 8)
                sp += 65
        elif marker == 0xC4:  # DHT (may hold several tables)
            sp = 0
            while sp < len(seg):
                if sp + 17 > len(seg):
                    raise ValueError("truncated DHT")
                tclass, tid = seg[sp] >> 4, seg[sp] & 0xF
                bits = list(seg[sp + 1 : sp + 17])
                n = sum(bits)
                if sp + 17 + n > len(seg):
                    raise ValueError("truncated DHT")
                vals = list(seg[sp + 17 : sp + 17 + n])
                htrees[(tclass, tid)] = _decode_tree(bits, vals)
                sp += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            if len(seg) < 6 or len(seg) < 6 + 3 * seg[5]:
                raise ValueError("truncated SOF0")
            if seg[0] != 8:
                raise NotImplementedError("only 8-bit precision")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            for i in range(ncomp):
                cid, samp, qid = seg[6 + 3 * i : 9 + 3 * i]
                if samp != 0x11:
                    raise NotImplementedError("subsampled JPEG (only 4:4:4 here)")
                comps.append((cid, qid, samp))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError("non-baseline JPEG (progressive/arithmetic)")
        elif marker == 0xDA:  # SOS
            if len(seg) < 1 or len(seg) < 1 + 2 * seg[0] + 3:
                raise ValueError("truncated SOS")
            ns = seg[0]
            for i in range(ns):
                cid, tabs = seg[1 + 2 * i], seg[2 + 2 * i]
                matches = [j for j, c in enumerate(comps) if c[0] == cid]
                if not matches:
                    raise ValueError(f"SOS references unknown component {cid}")
                scan.append((matches[0], tabs >> 4, tabs & 0xF))
            data_start = pos + seglen
            break
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals")
        pos += seglen

    if data_start is None or not comps or h == 0 or w == 0:
        raise ValueError("missing SOS/SOF0")
    # entropy-coded data runs until the next real marker (EOI). Byte
    # stuffing guarantees FF D9 cannot occur inside valid entropy data,
    # so the FIRST occurrence after SOS is the true end — rfind over the
    # whole buffer would let trailing garbage containing FF D9 shift the
    # end forward and feed junk to the bit reader (ADVICE r7 item).
    end = buf.find(b"\xff\xd9", data_start)
    if end < 0:
        raise ValueError("missing EOI")
    br = _BitReader(buf[data_start:end])

    bx, by = (w + 7) // 8, (h + 7) // 8
    planes = [np.zeros((by * 8, bx * 8), dtype=np.float64) for _ in comps]
    prev_dc = [0] * len(comps)
    for my in range(by):
        for mx in range(bx):
            for si, (ci, dct, act) in enumerate(scan):
                dc_tree = htrees.get((0, dct))
                ac_tree = htrees.get((1, act))
                if dc_tree is None or ac_tree is None:
                    raise ValueError("missing Huffman table")
                zz = np.zeros(64, dtype=np.int64)
                cat = _read_symbol(br, dc_tree)
                prev_dc[si] += _extend(br.read(cat), cat) if cat else 0
                zz[0] = prev_dc[si]
                k = 1
                while k < 64:
                    rs = _read_symbol(br, ac_tree)
                    run, cat = rs >> 4, rs & 0xF
                    if cat == 0:
                        if run == 15:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += run
                    if k > 63:
                        raise ValueError("AC run past block end")
                    zz[k] = _extend(br.read(cat), cat)
                    k += 1
                qt = qtabs.get(comps[ci][1])
                if qt is None:
                    raise ValueError("missing quant table")
                block = (zz[_UNZIGZAG].reshape(8, 8) * qt).astype(np.float64)
                px = _DCT.T @ block @ _DCT + 128.0
                planes[ci][my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = px

    img = np.stack([p[:h, :w] for p in planes], axis=-1)
    if img.shape[2] == 1:
        return np.repeat(np.clip(np.round(img), 0, 255).astype(np.uint8), 3, axis=2)
    if img.shape[2] == 3:
        return ycbcr_to_rgb(img)
    raise NotImplementedError(f"{img.shape[2]}-component JPEG")
