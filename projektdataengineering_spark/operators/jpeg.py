"""Minimal pure-Python baseline JPEG codec (ITU-T T.81, public spec) —
the MJPEG-in-AVI decode leg of the multimodal path.

The container ships no PIL/libjpeg/pyav, and a real multimodal corpus
is ~100% compressed video; Motion-JPEG is the one mainstream compressed
video format whose per-frame codec (baseline sequential DCT JPEG) is a
fully public spec implementable with numpy alone. This module gives
``operators/codecs.py`` real MJPG frames, turning that module's
"compressed video → NotImplementedError" boundary into a decode path
(H.26x/VP9 stay out: inter-frame prediction genuinely needs native
codec libraries).

Scope (deliberately the MJPEG-relevant subset of T.81):
* baseline sequential DCT, 8-bit precision, Huffman entropy coding;
* 1 (grey) or 3 (YCbCr / JFIF) components, sampling factors 1-2
  (covers 4:4:4 and the ubiquitous 4:2:0);
* restart markers (DRI/RSTn) honored on decode;
* decoder reads quantization AND Huffman tables from the stream (no
  fixed-table assumption — any conformant baseline file decodes).

Encoder notes: quantization uses the T.81 Annex K example tables
scaled by the libjpeg-style quality formula; Huffman tables are
CUSTOM per image — every used symbol gets an equal-length canonical
code (a valid, slightly suboptimal prefix code), written to DHT like
any optimized-table encoder would. This sidesteps the long Annex K
code tables while keeping the bitstream fully standard: our decoder
(and any other JPEG decoder) reads the tables from the file.

Everything is vectorized where it matters: the 2-D DCT/IDCT run as
two batched matmuls over all blocks at once; only the entropy coding
is per-symbol Python, which is the price of a bit-level codec in any
pure-Python engine and is bounded per frame. These run inside
Arrow-batched ``mapInPandas`` workers (operators/multimodal.py) —
the Spark-side batching/partitioning is where the 100-TB behavior
lives.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

# Zigzag scan order: ZIGZAG[i] = raster index of the i-th zigzag coef.
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# T.81 Annex K.1 example quantization tables (luminance, chrominance).
_Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_Q_CHROMA = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99,
     18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99,
     47, 66, 99, 99, 99, 99, 99, 99]
    + [99] * 32,
    dtype=np.int64,
)

# Orthonormal 8-point DCT-II basis: coefs = C @ block @ C.T,
# block = C.T @ coefs @ C.
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = (np.sqrt(1 / 8) if _u == 0 else 0.5) * np.cos(
            (2 * _x + 1) * _u * np.pi / 16
        )


def _scaled_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (_Q_LUM, _Q_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int64))
    return out[0], out[1]


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    return np.stack(
        [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ],
        axis=-1,
    )


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) with H,W multiples of 8 → (H//8 * W//8, 8, 8), raster
    block order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _unblockify(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    return (
        blocks.reshape(h // 8, w // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h, w)
    )


# JPEG magnitude category of a scalar = |v|.bit_length() (0 for 0) —
# int.bit_length beats any numpy formulation for the per-coefficient
# scalar calls the symbolizer makes (measured 0.94 s of a 1.66 s
# 200-frame encode profile spent building 1-element arrays).


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


def _amplitude_bits(v: int, size: int) -> int:
    """T.81 F.1.2.1: negative amplitudes are stored as v + 2^size - 1."""
    return v if v >= 0 else v + (1 << size) - 1


def _canonical_encode_map(bits, vals) -> dict[int, tuple[int, int]]:
    """BITS/HUFFVAL → symbol → (code, length) canonical assignment
    (the encode-side mirror of _canonical_decode_map)."""
    enc = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return enc


def _build_table(symbols: set[int]) -> tuple[list[int], list[int], dict[int, tuple[int, int]]]:
    """Equal-length canonical prefix code over the used symbols:
    BITS/HUFFVAL for the DHT segment + symbol → (code, length) map.
    n symbols at length L = ceil(log2(n+1)) leaves the all-ones code
    unused, as T.81 Annex C requires."""
    vals = sorted(symbols)
    n = len(vals)
    length = max(1, int(np.ceil(np.log2(n + 1))))
    bits = [0] * 16
    bits[length - 1] = n
    enc = {sym: (code, length) for code, sym in enumerate(vals)}
    return bits, vals, enc


def _encode_component_symbols(qblocks: np.ndarray):
    """Quantized zigzag blocks (n, 64) → list of per-block symbol
    streams [(dc_sym, dc_bits_len, dc_bits), [(ac_sym, len, bits)...]]
    with DC differenced across blocks (single non-interleaved scan
    order is applied by the caller's block ordering)."""
    out = []
    prev_dc = 0
    for row in qblocks.tolist():  # one bulk conversion, scalar ints after
        dc = row[0]
        diff = dc - prev_dc
        prev_dc = dc
        s = abs(diff).bit_length()
        dc_part = (s, s, _amplitude_bits(diff, s))
        ac_part = []
        run = 0
        last = 0
        for k in range(63, 0, -1):
            if row[k]:
                last = k
                break
        for k in range(1, last + 1):
            v = row[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac_part.append((0xF0, 0, 0))  # ZRL
                run -= 16
            s = abs(v).bit_length()
            ac_part.append(((run << 4) | s, s, _amplitude_bits(v, s)))
            run = 0
        if last < 63:
            ac_part.append((0x00, 0, 0))  # EOB
        out.append((dc_part, ac_part))
    return out


def jpeg_encode(
    rgb: np.ndarray,
    quality: int = 85,
    subsample: bool = True,
    standard_tables: bool = False,
    emit_dht: bool = True,
) -> bytes:
    """Encode (h, w, 3) uint8 RGB (or (h, w) grey) as baseline JFIF
    JPEG. ``subsample`` → 4:2:0 chroma (the MJPEG-typical layout),
    else 4:4:4. Deterministic: pure function of (pixels, quality).

    ``standard_tables`` entropy-codes with the T.81 Annex K.3 typical
    Huffman tables instead of per-image custom tables;
    ``emit_dht=False`` additionally omits the DHT segments — the
    OpenDML MJPG framing (decoders supply K.3), used to exercise the
    decoder's missing-DHT fallback. emit_dht=False requires
    standard_tables=True (a custom-table stream without its tables is
    undecodable by construction)."""
    if not emit_dht and not standard_tables:
        raise ValueError("emit_dht=False requires standard_tables=True")
    grey = rgb.ndim == 2
    arr = np.ascontiguousarray(rgb)
    h, w = arr.shape[:2]
    qlum, qchroma = _scaled_tables(quality)

    if grey:
        planes = [arr.astype(np.float64)]
        samp = [(1, 1)]
        qids = [0]
    else:
        ycc = _rgb_to_ycbcr(arr)
        y = ycc[..., 0]
        cb, cr = ycc[..., 1], ycc[..., 2]
        if subsample:
            # pad to even, then 2×2 box mean — matched by the decoder's
            # 2×2 repeat upsample
            ph, pw = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            def pad_even(p):
                return np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
            cb = pad_even(cb).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cr = pad_even(cr).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        qids = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h

    # Quantize every component's blocks (padded to its MCU-aligned
    # plane size by edge replication).
    comp_qblocks = []
    comp_blocks_per_mcu = []
    comp_blocks_x = []
    for plane, (sh, sv), qid in zip(planes, samp, qids):
        pw_t = mcus_x * sh * 8
        ph_t = mcus_y * sv * 8
        p = np.pad(
            plane,
            ((0, ph_t - plane.shape[0]), (0, pw_t - plane.shape[1])),
            mode="edge",
        )
        blocks = _blockify(p - 128.0)
        coefs = np.einsum("ux,nxy,vy->nuv", _C, blocks, _C)
        q = (qlum if qid == 0 else qchroma).reshape(8, 8)
        qz = np.round(coefs / q).astype(np.int64).reshape(-1, 64)[:, ZIGZAG]
        comp_qblocks.append(qz)
        comp_blocks_per_mcu.append(sh * sv)
        comp_blocks_x.append(pw_t // 8)

    # MCU-interleaved block order per component (T.81 A.2.3): within an
    # MCU, a component contributes its sv × sh blocks raster-wise.
    ordered = []
    for ci, qz in enumerate(comp_qblocks):
        sh, sv = samp[ci]
        bx = comp_blocks_x[ci]
        order = []
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for by in range(sv):
                    for bxx in range(sh):
                        order.append((my * sv + by) * bx + mx * sh + bxx)
        ordered.append(qz[np.array(order, dtype=np.int64)])

    symbol_streams = [_encode_component_symbols(qz) for qz in ordered]

    # Huffman tables: class 0 (DC) / 1 (AC) × id 0 (lum) / 1 (chroma).
    dc_syms: list[set[int]] = [set(), set()]
    ac_syms: list[set[int]] = [set(), set()]
    for ci, stream in enumerate(symbol_streams):
        tid = 0 if ci == 0 else 1
        for dc_part, ac_part in stream:
            dc_syms[tid].add(dc_part[0])
            for sym, _, _ in ac_part:
                ac_syms[tid].add(sym)
    n_tables = 1 if grey else 2
    if standard_tables:
        dc_tables = [
            (list(b), list(v), _canonical_encode_map(b, v))
            for b, v in (_K3_DC_LUM, _K3_DC_CHROM)[:n_tables]
        ]
        ac_tables = [
            (list(b), list(v), _canonical_encode_map(b, v))
            for b, v in (_K3_AC_LUM, _K3_AC_CHROM)[:n_tables]
        ]
    else:
        dc_tables = [_build_table(dc_syms[i]) for i in range(n_tables)]
        ac_tables = [_build_table(ac_syms[i]) for i in range(n_tables)]

    # ---- emit segments ----
    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(
        0xE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    )
    out += seg(0xDB, bytes([0x00]) + bytes(qlum[ZIGZAG].tolist()))
    if not grey:
        out += seg(0xDB, bytes([0x01]) + bytes(qchroma[ZIGZAG].tolist()))
    ncomp = 1 if grey else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += struct.pack(
            "BBB", ci + 1, (samp[ci][0] << 4) | samp[ci][1], qids[ci]
        )
    out += seg(0xC0, sof)
    if emit_dht:
        for tid in range(n_tables):
            for cls, (bits, vals, _) in ((0, dc_tables[tid]), (1, ac_tables[tid])):
                out += seg(
                    0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
                )
    sos = bytes([ncomp])
    for ci in range(ncomp):
        tid = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)

    # ---- entropy-coded data: MCU-interleaved ----
    bw = _BitWriter()
    idx = [0] * ncomp
    for _ in range(mcus_x * mcus_y):
        for ci in range(ncomp):
            tid = 0 if ci == 0 else 1
            dc_enc = dc_tables[tid][2]
            ac_enc = ac_tables[tid][2]
            for _ in range(comp_blocks_per_mcu[ci]):
                dc_part, ac_part = symbol_streams[ci][idx[ci]]
                idx[ci] += 1
                code, ln = dc_enc[dc_part[0]]
                bw.write(code, ln)
                bw.write(dc_part[2], dc_part[1])
                for sym, sz, bits in ac_part:
                    code, ln = ac_enc[sym]
                    bw.write(code, ln)
                    bw.write(bits, sz)
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; RSTn markers
    are consumed by ``sync_restart``."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                # marker (EOI/RSTn): per spec, feed 1-bits; caller
                # handles the marker via sync_restart / stop
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        """Skip to just past the next RSTn marker and reset bit state."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        p = self.pos
        while not (d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7):
            p += 1
        self.pos = p + 2


def _canonical_decode_map(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


# ---- ITU-T T.81 Annex K.3 "typical" Huffman tables (public spec) -----
# Real-world MJPEG-in-AVI frames very commonly omit DHT segments: the
# OpenDML MJPG convention is that decoders supply these fixed tables.
# (bits[1..16], huffval) exactly as printed in K.3.1/K.3.2.
_K3_DC_LUM = ((0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
              tuple(range(12)))
_K3_DC_CHROM = ((0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
                tuple(range(12)))
_K3_AC_LUM = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA),
)
_K3_AC_CHROM = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA),
)

# (class, table-id) → K.3 default, per the JFIF/OpenDML convention of
# table 0 = luminance, table 1 = chrominance.
_K3_DEFAULTS = {
    (0, 0): _K3_DC_LUM, (0, 1): _K3_DC_CHROM,
    (1, 0): _K3_AC_LUM, (1, 1): _K3_AC_CHROM,
}


@lru_cache(maxsize=256)
def _huff_tables_cached(bits: tuple, vals: tuple):
    """(decode_map, peek LUT, lut_bits) for one canonical table.

    LUT[peek(lut_bits)] = (codelen << 8) | symbol, 0 = invalid code,
    where lut_bits = the table's LONGEST code — NOT a fixed 16: this
    file's own encoder emits per-image equal-length tables (~6-8 bits),
    so sizing the LUT to the table keeps the build at 64-256 entries
    per frame instead of 65536 (a 65536-entry LUT per frame-unique
    table measured 20-40× slower end-to-end and leaked ~0.5 MB per
    cached table). The 16-bit K.3 / libjpeg-style tables are shared
    across a whole MJPEG stream, so their one big build amortizes via
    the lru_cache; maxsize bounds worker memory when every frame ships
    unique tables."""
    dec_map = _canonical_decode_map(list(bits), list(vals))
    lut_bits = max(
        (length for length in range(1, 17) if bits[length - 1]), default=1
    )
    lut = np.zeros(1 << lut_bits, dtype=np.uint32)
    for (length, code), sym in dec_map.items():
        start = code << (lut_bits - length)
        lut[start : start + (1 << (lut_bits - length))] = (length << 8) | sym
    return (dec_map, lut.tolist(), lut_bits)


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy stream")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map received bits back to signed amplitude."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


class _FastBitReader:
    """Multi-bit sibling of _BitReader: same 0xFF00 unstuffing and
    marker 1-bit padding, but fills a small accumulator a byte at a
    time so the hot path is one ``peek16`` + one ``skip`` per Huffman
    symbol (vs up to 16 ``read_bit`` calls)."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        p = self.pos
        if p >= len(d):
            b = 0xFF  # pad past EOF with 1-bits (spec padding)
        else:
            b = d[p]
            if b == 0xFF:
                nxt = d[p + 1] if p + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos = p + 2  # stuffed 0xFF data byte
                # else: marker — feed 1-bits, don't advance
            else:
                self.pos = p + 1
        self.acc = ((self.acc << 8) | b) & 0xFFFFFF
        self.nbits += 8

    def peek(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        return (self.acc >> (self.nbits - n)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        self.nbits -= n

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def sync_restart(self) -> None:
        self.acc = 0
        self.nbits = 0
        d = self.data
        p = self.pos
        while not (d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7):
            p += 1
        self.pos = p + 2


def _entropy_decode_fast(
    data: bytes,
    pos: int,
    order: list,
    restart_interval: int,
    mcus_x: int,
    mcus_y: int,
    coef: dict,
) -> None:
    """LUT-driven entropy decode (the default path). ``order`` rows are
    (cid, sh, sv, dc_lut, dc_bits, ac_lut, ac_bits) with peek LUTs from
    _huff_tables_cached. Produces the identical coefficients as
    _entropy_decode_scalar (asserted in tests/test_multimodal.py); the
    scalar form stays as the spec-faithful reference."""
    br = _FastBitReader(data, pos)
    pred = {cid: 0 for cid, *_ in order}
    mcu_count = 0
    bad = "invalid Huffman code in entropy stream"
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.sync_restart()
                pred = {cid: 0 for cid, *_ in order}
            mcu_count += 1
            for cid, sh, sv, dc_lut, dc_bits, ac_lut, ac_bits in order:
                cplane = coef[cid]
                p = pred[cid]
                for by in range(sv):
                    row = cplane[my * sv + by]
                    for bx in range(sh):
                        view = row[mx * sh + bx]
                        e = dc_lut[br.peek(dc_bits)]
                        if e == 0:
                            raise ValueError(bad)
                        br.skip(e >> 8)
                        s = e & 0xFF
                        v = br.receive(s)
                        if s:
                            p += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                        view[0] = p
                        k = 1
                        while k <= 63:
                            e = ac_lut[br.peek(ac_bits)]
                            if e == 0:
                                raise ValueError(bad)
                            br.skip(e >> 8)
                            sym = e & 0xFF
                            if sym == 0x00:  # EOB
                                break
                            run = sym >> 4
                            size = sym & 0xF
                            if size == 0:
                                if run != 15:
                                    raise ValueError("bad AC symbol")
                                k += 16  # ZRL
                                continue
                            k += run
                            if k > 63:
                                raise ValueError("AC run past block end")
                            v = br.receive(size)
                            view[k] = (
                                v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                            )
                            k += 1
                pred[cid] = p


def _entropy_decode_scalar(
    data: bytes,
    pos: int,
    order: list,
    restart_interval: int,
    mcus_x: int,
    mcus_y: int,
    coef: dict,
) -> None:
    """Bit-at-a-time T.81 F.2 entropy decode — the reference
    implementation the fast path is tested against. ``order`` rows are
    (cid, sh, sv, dc_map, ac_map) canonical decode dicts."""
    br = _BitReader(data, pos)
    pred = {cid: 0 for cid, *_ in order}
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.sync_restart()
                pred = {cid: 0 for cid, *_ in order}
            mcu_count += 1
            for cid, sh, sv, dc_t, ac_t in order:
                for by in range(sv):
                    for bx in range(sh):
                        zz = np.zeros(64, dtype=np.int64)
                        s = _huff_decode(br, dc_t)
                        diff = _extend(br.receive(s), s)
                        pred[cid] += diff
                        zz[0] = pred[cid]
                        k = 1
                        while k <= 63:
                            sym = _huff_decode(br, ac_t)
                            if sym == 0x00:  # EOB
                                break
                            run, size = sym >> 4, sym & 0xF
                            if size == 0:
                                if run != 15:
                                    raise ValueError("bad AC symbol")
                                k += 16  # ZRL
                                continue
                            k += run
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(br.receive(size), size)
                            k += 1
                        coef[cid][my * sv + by, mx * sh + bx] = zz


def jpeg_decode(data: bytes, scalar: bool = False) -> np.ndarray:
    """Decode a baseline JPEG to (h, w, 3) uint8 RGB ((h, w) for
    1-component greyscale). Supports 8-bit baseline sequential DCT,
    sampling factors 1-2, tables read from the stream, DRI/RSTn.
    Streams that omit DHT (the OpenDML MJPG convention) fall back to
    the T.81 Annex K.3 typical tables. ``scalar=True`` selects the
    bit-at-a-time reference entropy decoder instead of the default
    16-bit-peek LUT path (identical output, ~5-10x slower — kept as
    the spec-faithful test oracle)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], tuple[tuple, tuple]] = {}  # (bits, vals)
    sof = None
    restart_interval = 0
    scan = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables (not baseline)")
                zz = np.frombuffer(body, dtype=np.uint8, count=64, offset=i + 1)
                tbl = np.empty(64, dtype=np.int64)
                tbl[ZIGZAG] = zz  # stored zigzag → raster
                qtables[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0xF
                bits = tuple(body[i + 1 : i + 17])
                n = sum(bits)
                vals = tuple(body[i + 17 : i + 17 + n])
                htables[(cls, tid)] = (bits, vals)
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            comps = []
            for ci in range(nc):
                cid, hv, tq = struct.unpack_from("BBB", body, 6 + 3 * ci)
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            sof = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(f"non-baseline SOF marker 0xFF{marker:02X}")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan = []
            for ci in range(ns):
                cid, tids = body[1 + 2 * ci], body[2 + 2 * ci]
                scan.append((cid, tids >> 4, tids & 0xF))
            break  # entropy data follows at `pos`
        # APPn/COM/etc: skipped
    if sof is None or scan is None:
        raise ValueError("missing SOF0/SOS")

    h, w, comps = sof
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)

    def _huff(cls_: int, tid: int) -> tuple[tuple, tuple]:
        t = htables.get((cls_, tid))
        if t is not None:
            return t
        # Missing DHT: supply the T.81 Annex K.3 "typical" tables — the
        # OpenDML MJPG convention (AVI MJPEG frames very commonly omit
        # DHT and expect the decoder to use these fixed tables).
        dflt = _K3_DEFAULTS.get((cls_, tid))
        if dflt is None:
            raise ValueError(
                f"scan references undefined Huffman table (class={cls_}, "
                f"id={tid}) and no K.3 default exists for that id — "
                "corrupt stream, or a non-JFIF table layout"
            )
        return dflt

    by_id = {c[0]: c for c in comps}
    order = []  # (comp_index, sh, sv, qtbl, (dc bits/vals), (ac bits/vals))
    for cid, dc_id, ac_id in scan:
        _, sh, sv, tq = by_id[cid]
        order.append((cid, sh, sv, qtables[tq], _huff(0, dc_id), _huff(1, ac_id)))

    # coefficient planes per component, MCU-aligned
    coef = {
        cid: np.zeros((mcus_y * sv * 8 // 8, mcus_x * sh * 8 // 8, 64), dtype=np.int64)
        for cid, sh, sv, _, _, _ in order
    }
    if scalar:
        ent_order = [
            (cid, sh, sv, _huff_tables_cached(*dc)[0], _huff_tables_cached(*ac)[0])
            for cid, sh, sv, _, dc, ac in order
        ]
        _entropy_decode_scalar(
            data, pos, ent_order, restart_interval, mcus_x, mcus_y, coef
        )
    else:
        ent_order = []
        for cid, sh, sv, _, dc, ac in order:
            _, dc_lut, dc_bits = _huff_tables_cached(*dc)
            _, ac_lut, ac_bits = _huff_tables_cached(*ac)
            ent_order.append((cid, sh, sv, dc_lut, dc_bits, ac_lut, ac_bits))
        _entropy_decode_fast(
            data, pos, ent_order, restart_interval, mcus_x, mcus_y, coef
        )

    # dequantize + batched IDCT per component
    planes = {}
    for cid, sh, sv, q, _, _ in order:
        c = coef[cid]
        bh, bw_ = c.shape[0], c.shape[1]
        raster = np.empty((bh * bw_, 64), dtype=np.float64)
        raster[:, ZIGZAG] = c.reshape(-1, 64)
        deq = raster.reshape(-1, 8, 8) * q
        blocks = np.einsum("ux,nuv,vy->nxy", _C, deq, _C)
        plane = _unblockify(blocks, bh * 8, bw_ * 8) + 128.0
        # upsample to full-resolution grid by pixel repetition
        if sh < hmax or sv < vmax:
            plane = np.repeat(np.repeat(plane, vmax // sv, axis=0), hmax // sh, axis=1)
        planes[cid] = plane[:h, :w]

    if len(order) == 1:
        return np.clip(np.round(planes[order[0][0]]), 0, 255).astype(np.uint8)
    y, cb, cr = (planes[c[0]] for c in order[:3])
    return _ycbcr_to_rgb(y, cb, cr)
