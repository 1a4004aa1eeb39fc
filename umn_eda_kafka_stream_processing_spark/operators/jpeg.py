"""Baseline JPEG (ITU-T T.81 / ISO 10918-1) codec in pure
numpy + stdlib — no PIL / libjpeg required.

Scope: baseline sequential DCT, 8-bit, Huffman entropy coding;
grayscale (1 component) and YCbCr 4:4:4 color (3 components,
1x1 sampling, interleaved MCUs). Out of scope — and rejected with
NotImplementedError, never silently mis-decoded: progressive (SOF2),
arithmetic coding, 4:2:0/4:2:2 subsampling, restart intervals (DRI),
12-bit precision.

Why this exists: the engine treats media as opaque binary columns
processed by Arrow-batched mapInPandas (operators/multimodal.py).
JPEG was the last stubbed image codec; this module replaces the stub
with a real spec-level decode so the decode→feature path is genuine
end to end. In production the per-block Python loops here would be
swapped for libjpeg-turbo/nvJPEG behind the same (bytes) -> ndarray
contract — the Spark-side plumbing (schema, batching, partitioning)
is unchanged by that swap, which is the point.

Exactness property used by the oracle-checked catalog query
(plans/catalog_data.py:jpeg_decode_stats): for an image whose 8x8
tiles are each constant, the FDCT of every block is DC-only
(DC = 8*(v-128), all AC = 0). With a quantization table whose DC
entry divides 8*(v-128) — 8 divides it for every integer v — the
quantize→dequantize round trip is lossless and the IDCT reconstructs
every pixel exactly (float error ~1e-13 « the final round). Edge
padding by replication preserves tile constancy, so ANY image
dimensions decode exactly. A DuckDB oracle can therefore recompute
decoded-pixel statistics arithmetically, proving the whole
encode→decode→extract chain by hash equality.

Tables: quantization (Annex K.1/K.2) and Huffman (Annex K.3) are the
public example tables from the T.81 spec.

Reference parity note: the reference app (Kafka Streams Java) has no
media surface at all; this is part of the builder-brief LLM-data
extension (multimodal columns).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Spec tables (ITU-T T.81 Annex K — public example tables)
# ---------------------------------------------------------------------------

# K.1 / K.2 base quantization tables, natural (row-major) order
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# Lossless-for-tile-constant-images table (see module docstring):
# every entry 8 → DC survives quantization exactly for constant blocks.
QUANT_EXACT = np.full((8, 8), 8, dtype=np.int64)

# Annex K.3 Huffman specs as (BITS[1..16], HUFFVAL)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Zigzag scan: ZIGZAG[k] = natural index of the k-th zigzag coefficient
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Orthonormal 8x8 DCT-II matrix: C @ block @ C.T equals the T.81 FDCT
# (for a constant block v, DC = 8*v and all AC = 0).
_k = np.arange(8).reshape(8, 1)
_j = np.arange(8).reshape(1, 8)
_DCT = np.where(
    _k == 0, np.sqrt(1.0 / 8.0),
    np.sqrt(2.0 / 8.0) * np.cos((2 * _j + 1) * _k * np.pi / 16.0),
)


def _scale_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: q in [1,100] → scaled table clipped to
    [1,255] (baseline requires 8-bit table entries)."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _build_huffman(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical code assignment (T.81 Annex C): returns
    {symbol: (code, length)}."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[vi]] = (code, length)
            vi += 1
            code += 1
        code <<= 1
    return out


def _build_decoder(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Inverse map {(length, code): symbol} for bit-serial decode."""
    return {(ln, code): sym for sym, (code, ln) in _build_huffman(bits, vals).items()}


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 §B.1.1.5)
                self.out.append(0x00)
            self._n -= 8
            self._acc &= (1 << self._n) - 1

    def flush(self) -> bytes:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 de-stuffing."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self._acc = 0
        self._n = 0

    def read_bit(self) -> int:
        if self._n == 0:
            b = self.buf[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.buf[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed literal 0xFF
                else:
                    raise ValueError(
                        f"marker 0xFF{nxt:02X} inside entropy data "
                        "(restart intervals not supported)"
                    )
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def receive(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy data")


def _magnitude(v: int) -> tuple[int, int]:
    """DC/AC magnitude coding (T.81 §F.1.2.1): value → (category,
    appended-bits)."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    return s, v if v > 0 else v + (1 << s) - 1


def _extend(bits: int, s: int) -> int:
    """Inverse of _magnitude (T.81 F.2.2.1 EXTEND)."""
    if s == 0:
        return 0
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


def _fdct_quant(plane: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """Level-shift, 8x8 FDCT and quantization for a padded plane
    (h8, w8) → integer coefficients (n_by, n_bx, 8, 8)."""
    h8, w8 = plane.shape
    blocks = (
        plane.reshape(h8 // 8, 8, w8 // 8, 8).transpose(0, 2, 1, 3).astype(np.float64)
        - 128.0
    )
    coef = np.einsum("ij,byjk,lk->byil", _DCT, blocks, _DCT)
    scaled = coef / quant
    # round half away from zero (sign-symmetric; np.round is half-even)
    return (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int64)


def _idct_dequant(coefs: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """Dequantize + IDCT → uint8 plane (h8, w8)."""
    n_by, n_bx = coefs.shape[:2]
    deq = coefs.astype(np.float64) * quant
    px = np.einsum("ji,byjk,kl->byil", _DCT, deq, _DCT) + 128.0
    out = np.clip(np.floor(px + 0.5), 0, 255).astype(np.uint8)
    return out.transpose(0, 2, 1, 3).reshape(n_by * 8, n_bx * 8)


def _encode_block(
    w: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_tab: dict[int, tuple[int, int]],
    ac_tab: dict[int, tuple[int, int]],
) -> int:
    """Huffman-encode one zigzagged block; returns the new DC predictor."""
    dc = int(zz[0])
    s, extra = _magnitude(dc - pred)
    code, ln = dc_tab[s]
    w.write(code, ln)
    w.write(extra, s)
    run = 0
    last_nz = int(np.nonzero(zz[1:])[0][-1]) + 1 if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]  # ZRL
            w.write(code, ln)
            run -= 16
        s, extra = _magnitude(v)
        code, ln = ac_tab[run * 16 + s]
        w.write(code, ln)
        w.write(extra, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_tab[0x00]  # EOB
        w.write(code, ln)
    return dc


def _decode_block(
    r: _BitReader,
    pred: int,
    dc_tab: dict[tuple[int, int], int],
    ac_tab: dict[tuple[int, int], int],
) -> tuple[np.ndarray, int]:
    """Decode one block → (natural-order 8x8 coefficients, new DC pred)."""
    zz = np.zeros(64, dtype=np.int64)
    s = r.decode_symbol(dc_tab)
    dc = pred + _extend(r.receive(s), s)
    zz[0] = dc
    k = 1
    while k < 64:
        rs = r.decode_symbol(ac_tab)
        run, s = rs >> 4, rs & 0x0F
        if s == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("AC run past end of block")
        zz[k] = _extend(r.receive(s), s)
        k += 1
    blk = np.zeros(64, dtype=np.int64)
    blk[ZIGZAG] = zz
    return blk.reshape(8, 8), dc


def _pad_edge(plane: np.ndarray) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, (-h) % 8), (0, (-w) % 8)), mode="edge")


# RGB <-> YCbCr (JFIF full-range, T.871)
def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    x = rgb.astype(np.float64)
    r, g, b = x[..., 0], x[..., 1], x[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.clip(np.floor(np.stack([y, cb, cr], axis=-1) + 0.5), 0, 255).astype(np.uint8)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    x = ycc.astype(np.float64)
    y, cb, cr = x[..., 0], x[..., 1] - 128.0, x[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.floor(np.stack([r, g, b], axis=-1) + 0.5), 0, 255).astype(np.uint8)


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _dht_payload(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    return bytes([tc * 16 + th]) + bytes(bits) + bytes(vals)


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 90,
    quant_luma: np.ndarray | None = None,
) -> bytes:
    """Baseline JFIF encode: grayscale for (h, w) input, YCbCr 4:4:4
    for (h, w, 3). Explicit quant tables override the quality-scaled
    Annex K tables (pass QUANT_EXACT for the lossless-on-tile-constant
    property)."""
    px = np.asarray(pixels, dtype=np.uint8)
    color = px.ndim == 3
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ql = quant_luma if quant_luma is not None else _scale_quant(QUANT_LUMA, quality)
    qc = _scale_quant(QUANT_CHROMA, quality)
    planes = (
        [rgb_to_ycbcr(px)[..., i] for i in range(3)] if color else [px]
    )
    quants = [ql, qc, qc] if color else [ql]
    coefs = [
        _fdct_quant(_pad_edge(p), q) for p, q in zip(planes, quants)
    ]

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    out += _seg(0xDB, b"\x00" + bytes(ql.reshape(-1)[ZIGZAG].astype(np.uint8)))
    if color:
        out += _seg(0xDB, b"\x01" + bytes(qc.reshape(-1)[ZIGZAG].astype(np.uint8)))
    ncomp = 3 if color else 1
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])  # 1x1 sampling
    out += _seg(0xC0, sof)
    out += _seg(0xC4, _dht_payload(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS))
    out += _seg(0xC4, _dht_payload(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS))
    if color:
        out += _seg(0xC4, _dht_payload(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS))
        out += _seg(0xC4, _dht_payload(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    dc_enc = [
        _build_huffman(_DC_LUMA_BITS, _DC_LUMA_VALS),
        _build_huffman(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    ]
    ac_enc = [
        _build_huffman(_AC_LUMA_BITS, _AC_LUMA_VALS),
        _build_huffman(_AC_CHROMA_BITS, _AC_CHROMA_VALS),
    ]
    wtr = _BitWriter()
    preds = [0] * ncomp
    n_by, n_bx = coefs[0].shape[:2]
    for by in range(n_by):
        for bx in range(n_bx):
            for ci in range(ncomp):
                tid = 0 if ci == 0 else 1
                zz = coefs[ci][by, bx].reshape(-1)[ZIGZAG]
                preds[ci] = _encode_block(
                    wtr, zz, preds[ci], dc_enc[tid], ac_enc[tid]
                )
    out += wtr.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def decode_jpeg(content: bytes) -> np.ndarray:
    """Baseline JFIF decode: segment walk (DQT/SOF0/DHT/SOS), Huffman
    entropy decode, dequantize, IDCT, crop, and (for color) YCbCr→RGB.
    Returns (h, w) uint8 for grayscale, (h, w, 3) for color."""
    if content[:2] != b"\xff\xd8":
        raise NotImplementedError(f"not a JPEG (magic {content[:2]!r})")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict[tuple[int, int], int]] = {}
    huff_ac: dict[int, dict[tuple[int, int], int]] = {}
    sof = None
    scan = None
    while pos < len(content):
        if content[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = content[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (ln,) = struct.unpack(">H", content[pos + 2:pos + 4])
        data = content[pos + 4:pos + 2 + ln]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(data):
                pq, tq = data[off] >> 4, data[off] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(
                    data, np.uint8, 64, off + 1
                ).astype(np.int64)
                quant[tq] = tbl.reshape(8, 8)
                off += 65
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, ncomp = struct.unpack(">BHHB", data[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            comps = []
            for ci in range(ncomp):
                cid, samp, tq = data[6 + ci * 3:9 + ci * 3]
                if samp != 0x11:
                    raise NotImplementedError(
                        "chroma subsampling (4:2:0/4:2:2) not supported"
                    )
                comps.append((cid, tq))
            sof = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline SOF marker 0xFF{marker:02X} "
                "(progressive/arithmetic/lossless)"
            )
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(data):
                tc, th = data[off] >> 4, data[off] & 0x0F
                bits = list(data[off + 1:off + 17])
                nv = sum(bits)
                vals = list(data[off + 17:off + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[th] = _build_decoder(bits, vals)
                off += 17 + nv
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals (DRI) not supported")
        elif marker == 0xDA:  # SOS
            ns = data[0]
            scan_tabs = []
            for si in range(ns):
                cs, tdta = data[1 + si * 2:3 + si * 2]
                scan_tabs.append((cs, tdta >> 4, tdta & 0x0F))
            scan = (scan_tabs, pos + 2 + ln)
            break
        # APPn / COM / others: skip
        pos += 2 + ln
    if sof is None or scan is None:
        raise ValueError("JPEG missing SOF0/SOS")
    h, w, comps = sof
    scan_tabs, entropy_pos = scan
    if len(scan_tabs) != len(comps):
        raise NotImplementedError("multi-scan JPEG not supported")

    n_by, n_bx = (h + 7) // 8, (w + 7) // 8
    ncomp = len(comps)
    coefs = [np.zeros((n_by, n_bx, 8, 8), dtype=np.int64) for _ in range(ncomp)]
    rdr = _BitReader(content, entropy_pos)
    preds = [0] * ncomp
    comp_tabs = []
    for ci, (cid, _tq) in enumerate(comps):
        match = [t for t in scan_tabs if t[0] == cid]
        if not match:
            raise ValueError(f"scan missing component id {cid}")
        _, td, ta = match[0]
        comp_tabs.append((huff_dc[td], huff_ac[ta]))
    for by in range(n_by):
        for bx in range(n_bx):
            for ci in range(ncomp):
                dc_tab, ac_tab = comp_tabs[ci]
                blk, preds[ci] = _decode_block(rdr, preds[ci], dc_tab, ac_tab)
                coefs[ci][by, bx] = blk
    planes = [
        _idct_dequant(coefs[ci], quant[comps[ci][1]])[:h, :w]
        for ci in range(ncomp)
    ]
    if ncomp == 1:
        return planes[0]
    if ncomp != 3:
        raise NotImplementedError(f"{ncomp}-component JPEG not supported")
    return ycbcr_to_rgb(np.stack(planes, axis=-1))
