"""Baseline JPEG codec, stdlib + numpy only — no libjpeg.

Upgrades the last stubbed image format to a real implementation:

- ``encode_jpeg``: baseline sequential DCT (SOF0), 4:4:4 (no chroma
  subsampling), JFIF APP0, ITU-T T.81 Annex K quantization tables
  scaled by the libjpeg quality formula, Annex K Huffman tables,
  differential DC + run-length AC entropy coding with byte stuffing.
- ``decode_jpeg``: full baseline (SOF0/1) AND progressive (SOF2)
  decoder — marker parse (DQT/SOF/DHT/SOS/DRI), canonical Huffman
  decode with stuffed-byte handling and restart markers, a multi-scan
  coefficient engine covering spectral selection + successive
  approximation (DC/AC first and refinement scans, EOB runs, T.81
  G.2), dequantize → inverse zigzag → vectorized-einsum IDCT, chroma
  upsampling for any (H, V) sampling factors incl. 4:2:0, YCbCr→RGB.
  Interop-pinned in tests against real libjpeg files for BOTH coding
  modes (baseline 4:2:0 kittens from Spark's MLlib samples; an SOF2
  progressive banner from the nodejs docs — javax.imageio agreement
  mean |Δ| 0.09, max 2). Arithmetic/lossless SOFs raise ValueError.

JPEG is lossy: the round-trip contract is bounded error (PSNR), not
bit-exactness — pinned in tests/test_codecs.py. Both directions are
pure functions over bytes, so they slot into the mapInPandas decode
stages exactly like the BMP/PNG/WAV codecs.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables --

# ITU-T T.81 Annex K.1/K.2 base quantization tables (natural row order)
_Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

_Q_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

# zigzag scan: _ZIGZAG[k] = flat index (row*8+col) of the k-th coefficient
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.3 Huffman specs: (BITS counts per code length 1..16, HUFFVAL)
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHR_VALS = list(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
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
_AC_CHR_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHR_VALS = [
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

# orthonormal DCT-II basis: block_dct = C @ B @ C.T
_C = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else np.sqrt(0.25)
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality→table scaling (jcparam.c convention)."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (base * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


def _canonical_codes_impl(bits: tuple, vals: tuple) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) from the BITS/HUFFVAL spec (T.81 C.2)."""
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


_CODES_CACHE: dict = {}


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Memoized wrapper — the four Annex K tables are rebuilt for every
    encode call otherwise."""
    key = (tuple(bits), tuple(vals))
    hit = _CODES_CACHE.get(key)
    if hit is None:
        hit = _CODES_CACHE[key] = _canonical_codes_impl(*key)
    return hit


# ---------------------------------------------------------------- encoder --


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:  # pad with 1-bits (T.81 F.1.2.3)
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self.buf)

    def restart(self, n: int) -> None:
        """Byte-align with 1-padding, then emit RSTn (markers bypass
        the data-byte stuffing)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.buf.append(0xFF)
        self.buf.append(0xD0 + (n & 7))


def _magnitude(v: int) -> tuple[int, int]:
    """(category, value-bits) encoding of a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def _encode_component_blocks(
    writer: _BitWriter,
    blocks: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    pred: int,
) -> int:
    """Entropy-encode a sequence of zigzagged quantized blocks."""
    for zz in blocks:
        diff = int(zz[0]) - pred
        pred = int(zz[0])
        s, bits = _magnitude(diff)
        code, length = dc_codes[s]
        writer.write(code, length)
        if s:
            writer.write(bits, s)
        run = 0
        last_nz = int(np.nonzero(zz[1:])[0][-1]) + 1 if np.any(zz[1:]) else 0
        for k in range(1, last_nz + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]  # ZRL
                writer.write(code, length)
                run -= 16
            s, bits = _magnitude(v)
            code, length = ac_codes[(run << 4) | s]
            writer.write(code, length)
            writer.write(bits, s)
            run = 0
        if last_nz < 63:
            code, length = ac_codes[0x00]  # EOB
            writer.write(code, length)
    return pred


def _component_zigzag_blocks(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """Level-shift → pad to 8×8 grid (edge-replicate) → DCT → quantize →
    zigzag. Returns (n_blocks, 64) int32 in raster block order."""
    h, w = plane.shape
    H = -(-h // 8) * 8
    W = -(-w // 8) * 8
    padded = np.pad(plane.astype(np.float64) - 128.0,
                    ((0, H - h), (0, W - w)), mode="edge")
    blocks = padded.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)
    coefs = np.einsum("ux,ijxy,vy->ijuv", _C, blocks, _C)
    q = np.round(coefs / qtab).astype(np.int32)
    flat = q.reshape(-1, 64)
    return flat[:, _ZIGZAG]


def encode_jpeg(
    pixels: np.ndarray, quality: int = 90, restart_interval: int = 0
) -> bytes:
    """(h, w, 3) uint8 RGB or (h, w) grayscale -> baseline JFIF bytes
    (SOF0, 4:4:4, Annex K Huffman tables). ``restart_interval`` > 0
    emits a DRI segment and an RSTn marker every that-many MCUs —
    the error-resilience feature streaming encoders use (and the
    decoder path a fixture without DRI never exercises)."""
    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError(f"expected (h, w, 3) RGB or (h, w) gray, got {px.shape}")
    h, w = px.shape[:2]
    qt_lum = _quality_scale(_Q_LUM, quality)
    qt_chr = _quality_scale(_Q_CHR, quality)

    if gray:
        planes = [px.astype(np.float64)]
    else:
        r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]

    dc_lum = _canonical_codes(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_lum = _canonical_codes(_AC_LUM_BITS, _AC_LUM_VALS)
    dc_chr = _canonical_codes(_DC_CHR_BITS, _DC_CHR_VALS)
    ac_chr = _canonical_codes(_AC_CHR_BITS, _AC_CHR_VALS)

    comp_blocks = [
        _component_zigzag_blocks(p, qt_lum if i == 0 else qt_chr)
        for i, p in enumerate(planes)
    ]
    # 4:4:4 interleaved MCU = one block per component
    writer = _BitWriter()
    preds = [0] * len(planes)
    n_blocks = comp_blocks[0].shape[0]
    n_rst = 0
    for bi in range(n_blocks):
        if restart_interval and bi and bi % restart_interval == 0:
            writer.restart(n_rst)
            n_rst = (n_rst + 1) & 7
            preds = [0] * len(planes)  # DC predictors reset at restart
        for ci in range(len(planes)):
            preds[ci] = _encode_component_blocks(
                writer,
                comp_blocks[ci][bi : bi + 1],
                dc_lum if ci == 0 else dc_chr,
                ac_lum if ci == 0 else ac_chr,
                preds[ci],
            )
    entropy = writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        return bytes([cls << 4 | tid]) + bytes(bits) + bytes(vals)

    nc = len(planes)
    out = [struct.pack(">H", 0xFFD8)]  # SOI
    out.append(seg(0xFFE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)))
    zz_lum = qt_lum.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes()
    out.append(seg(0xFFDB, b"\x00" + zz_lum))
    if nc == 3:
        zz_chr = qt_chr.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes()
        out.append(seg(0xFFDB, b"\x01" + zz_chr))
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])  # H=V=1, Tq
    out.append(seg(0xFFC0, sof))
    out.append(seg(0xFFC4, dht(0, 0, _DC_LUM_BITS, _DC_LUM_VALS)))
    out.append(seg(0xFFC4, dht(1, 0, _AC_LUM_BITS, _AC_LUM_VALS)))
    if nc == 3:
        out.append(seg(0xFFC4, dht(0, 1, _DC_CHR_BITS, _DC_CHR_VALS)))
        out.append(seg(0xFFC4, dht(1, 1, _AC_CHR_BITS, _AC_CHR_VALS)))
    if restart_interval:
        out.append(seg(0xFFDD, struct.pack(">H", restart_interval)))  # DRI
    sos = bytes([nc]) + b"".join(
        bytes([ci + 1, 0x00 if ci == 0 else 0x11]) for ci in range(nc)
    ) + b"\x00\x3F\x00"
    out.append(seg(0xFFDA, sos))
    out.append(entropy)
    out.append(struct.pack(">H", 0xFFD9))  # EOI
    return b"".join(out)


# ---------------------------------------------------------------- decoder --


class _BitReader:
    """MSB-first bit reader over the entropy segment with 0xFF00
    unstuffing; stops at any real marker (RSTn handled by the caller)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24 and self.pos < len(d):
            byte = d[self.pos]
            if byte == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                else:  # a real marker: feed 1-padding, don't consume
                    byte = 0xFF  # spec pad bits are 1s; harmless filler
                    self.acc = (self.acc << 8) | byte
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | byte
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
            if self.nbits < n:
                raise ValueError("truncated JPEG entropy stream")
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def align_to_marker(self) -> int:
        """Drop pending bits, consume an RSTn marker, return its index."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                m = d[self.pos + 1] - 0xD0
                self.pos += 2
                return m
            self.pos += 1
        raise ValueError("expected restart marker")


class _HuffTree:
    """Canonical-code decoder: (length → {code: symbol}) maps."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.by_len: list[dict[int, int]] = [{} for _ in range(17)]
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.by_len[length][code] = vals[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read(1)
            sym = self.by_len[length].get(code)
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes -> (h, w, 3) uint8 RGB (or (h, w) for single-component
    files). Decodes BASELINE (SOF0/1) and PROGRESSIVE (SOF2: spectral
    selection + successive approximation, DC/AC first+refinement scans,
    EOB runs per T.81 G.2) streams through one multi-scan coefficient
    engine; arithmetic-coded / lossless / hierarchical SOFs raise
    ValueError. Cross-checked against javax.imageio on real libjpeg
    baseline AND progressive files in tests/test_codecs.py.

    Contract (same as decode_png/decode_bmp): EVERY malformed input
    raises ValueError — truncations and corruptions that would surface
    as struct.error / IndexError / KeyError / StopIteration from the
    parser are converted here (fuzz-pinned in tests)."""
    try:
        return _decode_jpeg_impl(data)
    except (struct.error, IndexError, KeyError, StopIteration) as e:
        raise ValueError(f"malformed JPEG: {type(e).__name__}: {e}") from e


def _decode_jpeg_impl(data: bytes) -> np.ndarray:
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htrees: dict[tuple[int, int], _HuffTree] = {}
    frame = None
    state = None  # comp_id -> (blocks_y, blocks_x, 64) zigzag coef array
    restart_interval = 0
    saw_scan = False
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker sync lost at byte {pos}")
        # T.81 B.1.1.2: any marker may be preceded by fill bytes (repeated
        # 0xFF); skip them so legal libjpeg padding doesn't misparse.
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(data):
            break
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / RSTn are standalone markers with no length field
            pos += 2
            continue
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG segment header")
        (length,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                prec = body[i] >> 4
                tid = body[i] & 0x0F
                n = 64 * (2 if prec else 1)
                raw = body[i + 1 : i + 1 + n]
                tab = np.frombuffer(raw, dtype=">u2" if prec else np.uint8).astype(np.int32)
                full = np.zeros(64, dtype=np.int32)
                full[_ZIGZAG] = tab  # de-zigzag
                qtabs[tid] = full.reshape(8, 8)
                i += 1 + n
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                cls = body[i] >> 4
                tid = body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                htrees[(cls, tid)] = _HuffTree(bits, vals)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError(f"unsupported precision {prec}")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * c)
                if not (1 <= hv >> 4 <= 4 and 1 <= hv & 0x0F <= 4):
                    # T.81 B.2.2: sampling factors are 1..4
                    raise ValueError(f"bad sampling factors {hv >> 4}x{hv & 0x0F}")
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps, "progressive": marker == 0xC2}
            state = _alloc_coef_state(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG coding (SOF{marker - 0xC0}) — baseline/progressive only"
            )
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tables = body[1 + 2 * c], body[2 + 2 * c]
                comp = next(x for x in frame["comps"] if x["id"] == cs)
                scan.append((comp, tables >> 4, tables & 0x0F))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            a = body[3 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            pos = _decode_scan(
                data, pos, frame, scan, (ss, se, ah, al), state, htrees,
                restart_interval,
            )
            saw_scan = True
            if not frame["progressive"]:
                break  # baseline: one scan covers everything
        # other markers (APPn/COM) are skipped
    if frame is None or not saw_scan:
        raise ValueError("no SOS marker found")
    return _reconstruct(frame, state, qtabs)


def _alloc_coef_state(frame):
    """Per-component zigzag coefficient planes sized to the MCU grid."""
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    frame["hmax"], frame["vmax"], frame["mcux"], frame["mcuy"] = hmax, vmax, mcux, mcuy
    return {
        c["id"]: np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
        for c in frame["comps"]
    }


def _comp_block_dims(frame, comp):
    """Used block grid of a NON-interleaved scan (T.81 A.2.2): ceil of
    the component's sample dimensions, not the MCU-padded grid."""
    cw = -(-frame["w"] * comp["h"] // frame["hmax"])
    ch = -(-frame["h"] * comp["v"] // frame["vmax"])
    return -(-ch // 8), -(-cw // 8)


def _decode_scan(data, pos, frame, scan, spectral, state, htrees, restart_interval):
    """Decode one entropy-coded scan into the coefficient state and
    return the byte offset of the next marker. Handles baseline full
    scans and all four progressive scan kinds."""
    ss, se, ah, al = spectral
    br = _BitReader(data, pos)
    preds = {comp["id"]: 0 for comp, _, _ in scan}
    eobrun = [0]  # boxed: shared across blocks within the scan

    def dc_tree(dct):
        t = htrees.get((0, dct))
        if t is None:
            raise ValueError("missing DC Huffman table")
        return t

    def ac_tree(act):
        t = htrees.get((1, act))
        if t is None:
            raise ValueError("missing AC Huffman table")
        return t

    def decode_block(comp, dct, act, zz):
        # baseline full block / progressive first-pass kinds
        if ss == 0 and ah == 0:  # DC first (and baseline AC if se > 0)
            s = dc_tree(dct).decode(br)
            diff = _extend(br.read(s), s) if s else 0
            preds[comp["id"]] += diff
            zz[0] = preds[comp["id"]] << al
        elif ss == 0:  # DC refinement: one appended magnitude bit
            if br.read(1):
                zz[0] |= 1 << al
        if se == 0:
            return
        if ah == 0:  # AC first pass (baseline: ss==0, se==63, al==0)
            if eobrun[0] > 0:
                eobrun[0] -= 1
                return
            k = max(ss, 1)
            tree = ac_tree(act)
            while k <= se:
                sym = tree.decode(br)
                run, size = sym >> 4, sym & 0x0F
                if size == 0:
                    if run == 15:  # ZRL
                        k += 16
                        continue
                    # EOBn: run of (1<<run)+bits end-of-band blocks
                    eobrun[0] = (1 << run) - 1
                    if run:
                        eobrun[0] += br.read(run)
                    break
                k += run
                if k > se:
                    raise ValueError("AC index out of range")
                zz[k] = _extend(br.read(size), size) << al
                k += 1
        else:  # AC refinement (T.81 G.2 / libjpeg decode_mcu_AC_refine)
            p1, m1 = 1 << al, -1 << al
            tree = ac_tree(act)
            k = ss

            def correct(idx):
                # history coefficient: maybe append a magnitude bit
                if zz[idx] != 0 and br.read(1) and (zz[idx] & p1) == 0:
                    zz[idx] += p1 if zz[idx] >= 0 else m1

            if eobrun[0] == 0:
                while k <= se:
                    sym = tree.decode(br)
                    run, size = sym >> 4, sym & 0x0F
                    newval = 0
                    if size == 0:
                        if run < 15:
                            eobrun[0] = (1 << run)
                            if run:
                                eobrun[0] += br.read(run)
                            break  # EOB: tail handled below
                        # ZRL: skip 16 zero-history coefficients
                    else:
                        if size != 1:
                            raise ValueError("bad AC refinement symbol")
                        newval = p1 if br.read(1) else m1
                    # advance over `run` zero-history coefs, correcting
                    # nonzero-history ones on the way
                    while k <= se:
                        if zz[k] != 0:
                            correct(k)
                        else:
                            if run == 0:
                                if newval:
                                    zz[k] = newval
                                k += 1
                                break
                            run -= 1
                        k += 1
            if eobrun[0] > 0:
                while k <= se:
                    correct(k)
                    k += 1
                eobrun[0] -= 1

    n_restart = 0

    def maybe_restart(n_units):
        nonlocal n_restart
        if restart_interval and n_units and n_units % restart_interval == 0:
            br.align_to_marker()
            for kk in preds:
                preds[kk] = 0
            eobrun[0] = 0
            n_restart += 1

    if len(scan) > 1:  # interleaved: MCU order over the full grid
        n_mcu = 0
        for my in range(frame["mcuy"]):
            for mx in range(frame["mcux"]):
                maybe_restart(n_mcu)
                n_mcu += 1
                for comp, dct, act in scan:
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            zz = state[comp["id"]][
                                my * comp["v"] + by, mx * comp["h"] + bx
                            ]
                            decode_block(comp, dct, act, zz)
    else:  # non-interleaved: the component's own used-block raster
        comp, dct, act = scan[0]
        bh, bw = _comp_block_dims(frame, comp)
        n_blk = 0
        for by in range(bh):
            for bx in range(bw):
                maybe_restart(n_blk)
                n_blk += 1
                decode_block(comp, dct, act, state[comp["id"]][by, bx])

    # next marker after this scan's entropy data (skip stuffing + RSTs)
    p = br.pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00 and not (
            0xD0 <= data[p + 1] <= 0xD7
        ):
            return p
        p += 1
    return len(data)


def _reconstruct(frame, state, qtabs):
    """Dequantize + IDCT every block (vectorized einsum), assemble the
    component planes, upsample to full resolution, color-convert."""
    h, w = frame["h"], frame["w"]
    out_planes = []
    for c in frame["comps"]:
        zz = state[c["id"]].astype(np.float64)  # (by, bx, 64) zigzag
        by, bx = zz.shape[0], zz.shape[1]
        blocks = np.zeros((by, bx, 64), dtype=np.float64)
        blocks[:, :, _ZIGZAG] = zz
        qt = qtabs[c["tq"]].astype(np.float64)
        coef = blocks.reshape(by, bx, 8, 8) * qt
        pix = np.einsum("ij,yxjk,kl->yxil", _C.T, coef, _C) + 128.0
        plane = pix.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        ry, rx = frame["vmax"] // c["v"], frame["hmax"] // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        out_planes.append(plane[:h, :w])
    if len(out_planes) == 1:
        return np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
