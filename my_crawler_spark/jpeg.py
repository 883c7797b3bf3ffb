"""Pure numpy baseline JPEG (ITU-T T.81 / JFIF) encoder + decoder.

No PIL/libjpeg in this container, so the image payload's jpeg path is
implemented from the public spec: baseline sequential DCT, 8-bit, Huffman
entropy coding with the Annex K tables on encode, arbitrary DHT/DQT on
decode. The encoder emits 4:4:4 (one 8x8 block per component per MCU);
the decoder handles any baseline sampling (4:4:4 / 4:2:2 / 4:2:0 /
grayscale), 16-bit quant tables, and restart markers, so it also reads
bitstreams produced by other conformant encoders (conformance-tested
against Java's javax.imageio in tests/test_jpeg.py — the JVM is already
a Spark dependency, so the oracle is always available).

Scale note: this is the per-row kernel the E10 ``mapInPandas`` decode UDF
batches over (operators/extract.py) — pure numpy + bounded Python entropy
loops, no native libs to ship to executors. The DCT/IDCT are batched
einsums over all blocks of an image; only the entropy coder is per-symbol
Python, which at crawl image sizes is micro-seconds per image.

Graft analogue of the reference's page fetch payload handling
(spider/src/page.rs byte-stream decode): the reference crawls HTML; this
engine's input_hint adds an image+caption payload column, decoded here.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- constants
# zigzag scan order: raster index of each successive zigzag position
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# Annex K.1 / K.2 base quantization tables (raster order)
QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64)
QT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64)

# Annex K.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROM_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
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
AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROM_VALS = [
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


def _dct_matrix8() -> np.ndarray:
    k = np.arange(8)
    m = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / 16.0)
    m[0] *= 1.0 / np.sqrt(2.0)
    return m * 0.5


_DCT8 = _dct_matrix8()


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_LUT_CACHE: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}


def _huff_decoder(bits: list[int], vals: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """Fast peek-16 lookup: arrays (length, symbol) indexed by the next 16
    bits of the stream. One table index replaces the bit-serial walk — the
    decoder is on the crawl's per-fetched-url extract path, so per-symbol
    cost matters. Cached by table content (the Annex K tables recur)."""
    key = (tuple(bits), tuple(vals))
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    packed = np.zeros(1 << 16, dtype=np.int32)  # (length << 8) | symbol
    for sym, (code, length) in _huff_codes(bits, vals).items():
        lo = code << (16 - length)
        hi = (code + 1) << (16 - length)
        packed[lo:hi] = (length << 8) | sym
    lut = packed.tolist()  # Python-list indexing beats numpy scalar reads
    _LUT_CACHE[key] = lut
    return lut


def _scale_qt(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling (public ijg formula)."""
    quality = max(1, min(100, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255)


# ------------------------------------------------------------------ encoder


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.buf)


def _bit_size(v: int) -> int:
    return int(abs(v)).bit_length()


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """HxW (multiples of 8) -> (n_blocks, 8, 8) raster block order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _encode_component_blocks(
    wr: _BitWriter,
    qcoef_zz: np.ndarray,
    block_idx: int,
    prev_dc: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    """Entropy-code one 64-coef zigzag block; returns the new DC predictor."""
    blk = qcoef_zz[block_idx]
    dc = int(blk[0])
    diff = dc - prev_dc
    s = _bit_size(diff)
    code, length = dc_codes[s]
    wr.put(code, length)
    if s:
        wr.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    nz = np.nonzero(blk[1:])[0]
    last = 0
    for idx in nz:
        k = int(idx) + 1
        run = k - last - 1
        while run > 15:
            zc, zl = ac_codes[0xF0]
            wr.put(zc, zl)
            run -= 16
        v = int(blk[k])
        s = _bit_size(v)
        code, length = ac_codes[(run << 4) | s]
        wr.put(code, length)
        wr.put(v if v > 0 else v + (1 << s) - 1, s)
        last = k
    if last != 63:
        code, length = ac_codes[0x00]
        wr.put(code, length)
    return dc


def encode_jpeg(
    pixels: np.ndarray, quality: int = 92, restart_interval: int = 0
) -> bytes:
    """HxWx3 uint8 RGB -> baseline JFIF bytes (4:4:4, Annex K tables).

    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every
    that many MCUs (what a parallel encoder would use to make the entropy
    stream independently decodable per stripe).
    """
    assert pixels.dtype == np.uint8 and pixels.ndim == 3 and pixels.shape[2] == 3
    h, w = pixels.shape[:2]
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    padded = np.pad(pixels, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    ycc = _rgb_to_ycbcr(padded.astype(np.float64)) - 128.0

    qt_l = _scale_qt(QT_LUM, quality)
    qt_c = _scale_qt(QT_CHROM, quality)
    comp_q = [qt_l, qt_c, qt_c]

    # batched forward DCT + quantize + zigzag per component
    qcoefs = []
    for ci in range(3):
        blocks = _blocks_of(ycc[..., ci])
        coef = np.einsum("ij,njk,lk->nil", _DCT8, blocks, _DCT8)
        q = np.round(coef.reshape(-1, 64) / comp_q[ci]).astype(np.int32)
        qcoefs.append(q[:, ZIGZAG])

    dc_l, ac_l = _huff_codes(DC_LUM_BITS, DC_LUM_VALS), _huff_codes(AC_LUM_BITS, AC_LUM_VALS)
    dc_c, ac_c = _huff_codes(DC_CHROM_BITS, DC_CHROM_VALS), _huff_codes(AC_CHROM_BITS, AC_CHROM_VALS)
    comp_tabs = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]

    scan = bytearray()
    wr = _BitWriter()
    preds = [0, 0, 0]
    for b in range(qcoefs[0].shape[0]):  # MCU order == block raster at 4:4:4
        if restart_interval and b and b % restart_interval == 0:
            scan += wr.flush()
            scan += bytes([0xFF, 0xD0 + ((b // restart_interval - 1) % 8)])
            wr = _BitWriter()
            preds = [0, 0, 0]
        for ci in range(3):
            preds[ci] = _encode_component_blocks(
                wr, qcoefs[ci], b, preds[ci], *comp_tabs[ci]
            )
    scan += wr.flush()
    scan = bytes(scan)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dht(cls_id: int, bits: list[int], vals: list[int]) -> bytes:
        return seg(0xFFC4, bytes([cls_id]) + bytes(bits) + bytes(vals))

    out = b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(qt_l.astype(np.uint8)[ZIGZAG]))
    out += seg(0xFFDB, b"\x01" + bytes(qt_c.astype(np.uint8)[ZIGZAG]))
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += dht(0x00, DC_LUM_BITS, DC_LUM_VALS)
    out += dht(0x10, AC_LUM_BITS, AC_LUM_VALS)
    out += dht(0x01, DC_CHROM_BITS, DC_CHROM_VALS)
    out += dht(0x11, AC_CHROM_BITS, AC_CHROM_VALS)
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += scan
    out += b"\xff\xd9"  # EOI
    return out


# ------------------------------------------------------------------ decoder


def _unstuff(scan: bytes) -> list[bytes]:
    """Split the entropy stream at restart markers, unstuffing FF00."""
    segments: list[bytes] = []
    cur = bytearray()
    i, n = 0, len(scan)
    while i < n:
        b = scan[i]
        if b == 0xFF:
            nxt = scan[i + 1] if i + 1 < n else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:  # RSTn
                segments.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            break  # next real marker (EOI or other) ends the scan
        cur.append(b)
        i += 1
    segments.append(bytes(cur))
    return segments


def _upsample(plane: np.ndarray, factor: int, axis: int) -> np.ndarray:
    if factor == 1:
        return plane
    if factor != 2:
        return plane.repeat(factor, axis=axis)
    a = np.moveaxis(plane, axis, 0)
    prev = np.concatenate([a[:1], a[:-1]], axis=0)
    nxt = np.concatenate([a[1:], a[-1:]], axis=0)
    out = np.empty((a.shape[0] * 2,) + a.shape[1:], dtype=a.dtype)
    out[0::2] = 0.75 * a + 0.25 * prev
    out[1::2] = 0.75 * a + 0.25 * nxt
    return np.moveaxis(out, 0, axis)


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JFIF bytes -> HxWx3 uint8 RGB.

    Handles grayscale and 3-component scans, any baseline sampling factors,
    8/16-bit DQT, restart intervals. Progressive (SOF2) is rejected.
    """
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    restart_interval = 0
    scan_info = None
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (length,) = struct.unpack(">H", data[pos : pos + 2])
        body = data[pos + 2 : pos + length]
        pos += length
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq:
                    qtables[tq] = np.frombuffer(
                        body[i : i + 128], dtype=">u2"
                    ).astype(np.float64)
                    i += 128
                else:
                    qtables[tq] = np.frombuffer(
                        body[i : i + 64], dtype=np.uint8
                    ).astype(np.float64)
                    i += 64
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                huff[(cls, tid)] = _huff_decoder(bits, vals)
                i += 17 + nv
        elif marker in (0xC0, 0xC1):  # SOF0/1 baseline
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker == 0xC2:
            raise ValueError("progressive JPEG not supported (baseline only)")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            sel = {body[1 + 2 * i]: body[2 + 2 * i] for i in range(ns)}
            scan_info = sel
            scan_start = pos
            break
    if frame is None or scan_info is None:
        raise ValueError("missing SOF/SOS")

    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
    n_mcus = mcus_x * mcus_y

    segments = _unstuff(data[scan_start:])
    # pre-size coefficient stores: blocks per MCU per component
    coef = [
        np.zeros((n_mcus * c["h"] * c["v"], 64), dtype=np.float64) for c in comps
    ]
    counters = [0] * len(comps)
    preds = [0] * len(comps)
    ncomp = len(comps)
    comp_tabs = [
        (
            huff[(0, scan_info[c["id"]] >> 4)],
            huff[(1, scan_info[c["id"]] & 0x0F)],
            c["h"] * c["v"],
        )
        for c in comps
    ]
    # hot loop: bit reader inlined on local ints (this runs once per fetched
    # url on the crawl extract path — method calls per symbol are too slow)
    seg_idx = 0
    sdata = segments[0]
    slen = len(sdata)
    acc = nbits = spos = 0
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            seg_idx += 1
            sdata = segments[seg_idx]
            slen = len(sdata)
            acc = nbits = spos = 0
            preds = [0] * ncomp
        for ci in range(ncomp):
            dc_lut, ac_lut, nblk = comp_tabs[ci]
            arr = coef[ci]
            for _ in range(nblk):
                blk = arr[counters[ci]]
                counters[ci] += 1
                # --- DC: peek 16, one LUT hit
                while nbits < 16:
                    acc = (acc << 8) | (sdata[spos] if spos < slen else 0)
                    spos += 1
                    nbits += 8
                p = dc_lut[(acc >> (nbits - 16)) & 0xFFFF]
                if p == 0:
                    raise ValueError("invalid Huffman code")
                nbits -= p >> 8
                acc &= (1 << nbits) - 1
                s = p & 0xFF
                if s:
                    while nbits < s:
                        acc = (acc << 8) | (sdata[spos] if spos < slen else 0)
                        spos += 1
                        nbits += 8
                    nbits -= s
                    v = acc >> nbits
                    acc &= (1 << nbits) - 1
                    preds[ci] += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                blk[0] = preds[ci]
                # --- AC
                k = 1
                while k < 64:
                    while nbits < 16:
                        acc = (acc << 8) | (sdata[spos] if spos < slen else 0)
                        spos += 1
                        nbits += 8
                    p = ac_lut[(acc >> (nbits - 16)) & 0xFFFF]
                    if p == 0:
                        raise ValueError("invalid Huffman code")
                    nbits -= p >> 8
                    acc &= (1 << nbits) - 1
                    s = p & 0x0F
                    if s == 0:
                        if (p >> 4) & 0x0F == 15:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += (p >> 4) & 0x0F
                    if k > 63:
                        raise ValueError("AC index overflow")
                    while nbits < s:
                        acc = (acc << 8) | (sdata[spos] if spos < slen else 0)
                        spos += 1
                        nbits += 8
                    nbits -= s
                    v = acc >> nbits
                    acc &= (1 << nbits) - 1
                    blk[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                    k += 1

    # dequantize + inverse zigzag + batched IDCT, then place blocks
    planes = []
    for ci, c in enumerate(comps):
        q = qtables[c["tq"]]
        dq = (coef[ci] * q)[:, UNZIGZAG].reshape(-1, 8, 8)
        px = np.einsum("ji,njk,kl->nil", _DCT8, dq, _DCT8) + 128.0
        ch, cv = c["h"], c["v"]
        pw_c, ph_c = mcus_x * ch * 8, mcus_y * cv * 8
        plane = np.zeros((ph_c, pw_c), dtype=np.float64)
        bi = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for by in range(cv):
                    for bx in range(ch):
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        plane[y0 : y0 + 8, x0 : x0 + 8] = px[bi]
                        bi += 1
        # upsample to full MCU-grid resolution: triangle filter for 2x
        # (libjpeg "fancy upsampling" — matches other decoders closely),
        # box replicate for other factors
        plane = _upsample(plane, vmax // cv, axis=0)
        plane = _upsample(plane, hmax // ch, axis=1)
        planes.append(plane[: frame["h"], : frame["w"]])

    if len(planes) == 1:
        y = np.clip(planes[0], 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def read_dqt_luma(data: bytes) -> np.ndarray | None:
    """First 8-bit DQT table with id 0 (the luma table), in zigzag order as
    stored — enough to fingerprint the encoder's quality setting without a
    full decode. Returns None when absent/malformed."""
    if data[:2] != b"\xff\xd8":
        return None
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            return None
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9 or marker == 0xDA:  # EOI / SOS: no DQT before scan
            return None
        seg_len = int.from_bytes(data[pos + 2 : pos + 4], "big")
        seg = data[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                width = 2 if pq else 1
                vals = seg[off + 1 : off + 1 + 64 * width]
                if tq == 0 and pq == 0 and len(vals) == 64:
                    return np.frombuffer(vals, dtype=np.uint8).astype(np.int64)
                off += 1 + 64 * width
        pos += 2 + seg_len
    return None


def estimate_jpeg_quality(data: bytes) -> int | None:
    """Invert the ijg quality formula from the luma DQT: the scaled Annex K
    table is INJECTIVE over quality 1..100 (verified in tests), so an
    encoder using the standard formula is recovered exactly; other tables
    fall back to the nearest (L1) standard scaling. The training-data use:
    JPEG quality is a strong image-corpus quality/provenance signal
    (LAION-style curation buckets on it)."""
    t = read_dqt_luma(data)
    if t is None:
        return None
    base_zz = QT_LUM.ravel()[ZIGZAG] if QT_LUM.ndim == 2 else QT_LUM[ZIGZAG]
    best_q, best_d = None, None
    for q in range(1, 101):
        scale = 5000 // q if q < 50 else 200 - 2 * q
        cand = np.clip((base_zz * scale + 50) // 100, 1, 255)
        d = int(np.abs(cand - t).sum())
        if best_d is None or d < best_d or (d == best_d and q > best_q):
            best_q, best_d = q, d
        if d == 0:
            break
    return best_q
