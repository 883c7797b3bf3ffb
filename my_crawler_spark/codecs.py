"""Image codecs for the image+caption payload (BASELINE.json input_hint).

The container has no PIL/libjpeg/libwebp, so:

- ``png``  : a real, spec-conformant PNG encoder/decoder in pure
  numpy+zlib (8-bit RGB, filters 0-4 on decode, filter 0 on encode).
  Lossless — decode(encode(x)) == x exactly.
- ``jpeg`` : a real, spec-conformant baseline JFIF codec in pure numpy
  (``jpeg.py``) — the decoder reads any baseline bitstream (4:2:0 etc.,
  restart markers); conformance-oracled against Java's javax.imageio in
  tests/test_jpeg.py. Default quality 98 keeps the >=40 dB lossy
  invariant (BASELINE.json input_hint) on the noisiest fixture images.
- ``gif``  : a real GIF 87a/89a codec (``gif.py``) — LZW, interlace,
  palettes, transparency, animation; conformance-oracled against Java's
  javax.imageio in tests/test_bmp_gif.py. Lossless for <=256-color input.
- ``bmp``  : a real uncompressed BI_RGB codec (``bmp.py``, 8/24/32-bit) —
  same ImageIO conformance oracle. Lossless.
- ``webp`` : a real, spec-conformant WebP LOSSLESS codec (``vp8l.py``)
  — RIFF/WEBP container, VP8L bitstream: prefix codes, colour cache,
  LZ77 backrefs, all four transforms on decode. Lossless, so the
  >=40 dB input_hint invariant holds trivially (PSNR = inf). Only the
  lossy VP8 chunk remains the documented environment gate (a full VP8
  intra-frame decoder needs libwebp/PIL, absent here). The legacy
  deterministic fake-lossy stream stays decodable for back-compat.

Also: ``phash64`` — the canonical 32x32-DCT / 8x8-lowfreq / median
perceptual hash used as the per-row ground truth (graft analogue of the
reference's page_version content hash, spider/src/qdrant.rs:168-178).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_FAKE_MAGIC = b"FAKELOSSY1"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode HxWx3 uint8 -> PNG bytes (color type 2, filter 0)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit RGB PNG (filters 0-4) -> HxWx3 uint8."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, 0
    idat = b""
    h = bit_depth = color_type = 0
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type = struct.unpack(">IIBB", body[:10])
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if bit_depth != 8 or color_type != 2:
        raise ValueError("only 8-bit RGB supported")
    raw = np.frombuffer(zlib.decompress(idat), np.uint8)
    stride = w * 3 + 1
    rows = raw.reshape(h, stride)
    out = np.zeros((h, w * 3), np.uint8)
    bpp = 3
    for y in range(h):
        f, line = rows[y, 0], rows[y, 1:].copy()
        if f == 0:
            out[y] = line
        elif f == 1:  # Sub
            for x in range(bpp, w * 3):
                line[x] = (int(line[x]) + int(line[x - bpp])) & 0xFF
            out[y] = line
        elif f == 2:  # Up
            out[y] = line + (out[y - 1] if y else 0)
        elif f == 3:  # Average
            prev = out[y - 1] if y else np.zeros(w * 3, np.uint8)
            for x in range(w * 3):
                left = int(line[x - bpp]) if x >= bpp else 0
                line[x] = (int(line[x]) + (left + int(prev[x])) // 2) & 0xFF
            out[y] = line
        elif f == 4:  # Paeth
            prev = out[y - 1] if y else np.zeros(w * 3, np.uint8)
            for x in range(w * 3):
                a = int(line[x - bpp]) if x >= bpp else 0
                c = int(prev[x - bpp]) if x >= bpp else 0
                line[x] = (int(line[x]) + int(_paeth(np.uint8(a), prev[x], np.uint8(c)))) & 0xFF
            out[y] = line
        else:
            raise ValueError(f"bad filter {f}")
    return out.reshape(h, w, 3)


def decode_fake_lossy(data: bytes) -> np.ndarray:
    if data[:10] != _FAKE_MAGIC:
        raise ValueError("not a fake-lossy stream")
    w, h, step = struct.unpack(">HHB", data[14:19])
    q = np.frombuffer(zlib.decompress(data[19:]), np.uint8).reshape(h, w, 3)
    return np.clip(q.astype(np.int16) * step + step // 2, 0, 255).astype(np.uint8)


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return encode_png(pixels)
    if fmt == "jpeg":
        from . import jpeg

        return jpeg.encode_jpeg(pixels, quality=98)
    if fmt == "gif":
        from . import gif

        return gif.encode_gif(pixels)
    if fmt == "bmp":
        from . import bmp

        return bmp.encode_bmp(pixels)
    if fmt == "webp":
        from . import vp8l

        return vp8l.encode_webp(pixels)
    raise ValueError(f"unsupported fmt {fmt!r}")


def decode_image(data: bytes) -> np.ndarray:
    """Sniff + decode. This is the function the E10 Arrow UDF batches over.

    Real from-scratch codecs: PNG, baseline JPEG (jpeg.py), GIF 87a/89a
    (gif.py), uncompressed BMP (bmp.py), WebP lossless/VP8L (vp8l.py).
    Only lossy-VP8 webp remains the documented environment gate."""
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        from . import jpeg

        return jpeg.decode_jpeg(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from . import gif

        return gif.decode_gif(data)
    if data[:2] == b"BM":
        from . import bmp

        return bmp.decode_bmp(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from . import vp8l

        return vp8l.decode_webp(data)
    if data[:10] == _FAKE_MAGIC:
        return decode_fake_lossy(data)
    raise NotImplementedError(
        "unrecognized image container: decode beyond "
        "PNG/JPEG/GIF/BMP/VP8L needs codec libs not in this environment"
    )


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)
    m = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    m[0] *= 1 / np.sqrt(2)
    return m * np.sqrt(2 / n)


_DCT32 = _dct_matrix(32)


# Fixed-point DCT basis for phash64: int64, scale 2^16. Integer matmul in
# numpy never routes to BLAS, so the hash is bit-identical in every process
# — float dgemm here was observed returning context-dependent results inside
# forked pyspark workers (the same PNG hashed two ways depending on the
# Arrow batch shape, flipping cross-batch dedup). Overflow-safe: |D_q| <=
# 16384, |small_milli| <= 255000 -> step1 <= 1.4e11, step2 <= 7.1e16 << 2^63.
_DCT32_Q = np.round(_DCT32 * 65536.0).astype(np.int64)


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash: gray -> 32x32 area-resample -> 2D DCT-II ->
    top-left 8x8 (excl. DC) median threshold. Signed int64 (parquet-friendly).

    All-integer pipeline (milli-luma, fixed-point DCT basis, integer median
    compare): a dedup key must hash identically on every executor, and the
    float version did not (see _DCT32_Q note).
    """
    # exact integer luma: 1000*(0.299 R + 0.587 G + 0.114 B)
    luma_milli = pixels.astype(np.int64) @ np.array([299, 587, 114], np.int64)
    h, w = luma_milli.shape
    # area mean resample to 32x32 (handles non-multiples via index binning)
    yi = (np.arange(h) * 32 // h).clip(0, 31)
    xi = (np.arange(w) * 32 // w).clip(0, 31)
    ssum = np.zeros((32, 32), np.int64)
    counts = np.zeros((32, 32), np.int64)
    np.add.at(ssum, (yi[:, None].repeat(w, 1), xi[None, :].repeat(h, 0)), luma_milli)
    np.add.at(counts, (yi[:, None].repeat(w, 1), xi[None, :].repeat(h, 0)), 1)
    counts = np.maximum(counts, 1)
    small_milli = (ssum + counts // 2) // counts  # round-to-nearest int mean
    dct_q = _DCT32_Q @ small_milli @ _DCT32_Q.T  # int64 end to end
    block = dct_q[:8, :8].flatten()
    med = np.median(block[1:])  # middle element of 63 ints: exact
    # Pack with PYTHON ints, not numpy scalars: pyspark workers run numpy
    # under a different promotion state than the driver, and the uint64
    # scalar shift-or loop silently promoted through float64 there —
    # zeroing the low ~11 bits of the hash (found the hard way: the same
    # image deduped against itself in-batch but not cross-batch).
    val = 0
    for b in block > med:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
