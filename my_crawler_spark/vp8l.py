"""WebP lossless (VP8L) codec from scratch in pure numpy/Python.

Clean-room implementation of the PUBLIC "WebP Lossless Bitstream
Specification" (Google; datatracker draft-zern-webp / the webp container
spec for the RIFF framing). No libwebp code; everything here is derived
from the published format description, like the sibling from-scratch
codecs (jpeg.py, gif.py, bmp.py).

Decoder (`decode_webp`) reads the general format:
  - LSB-first bit stream, canonical prefix (Huffman) codes transmitted
    exactly like DEFLATE (code MSB first), normal + simple code forms,
    code-length codes with 17/18 zero-runs, 16 repeats, and the optional
    max_symbol cutoff;
  - all four transforms (PREDICTOR with its 14 modes, COLOR_TRANSFORM,
    SUBTRACT_GREEN, COLOR_INDEXING incl. sub-byte pixel bundling);
  - colour cache, meta-prefix (entropy-image) code groups, and the
    LZ77 backward references with the 120 two-dimensional "plane"
    distance codes.

Encoder (`encode_webp`) emits a deliberately small, fully conformant
subset: SUBTRACT_GREEN transform, one prefix-code group, an 8-bit colour
cache, literals, and distance-1 run backreferences (flat regions — the
common case for synthetic fixtures — collapse to a handful of symbols).
Distances are always coded as `dist + 120` (the spec's scalar form),
which every conformant decoder accepts.

Bit-exactness: VP8L is lossless, so decode(encode(x)) == x exactly and
the input_hint PSNR>=40dB invariant holds trivially (PSNR = inf).

Used by codecs.encode_image/decode_image for fmt="webp"; the lossy VP8
chunk remains the documented environment gate (a full VP8 intra decoder
is out of scope; no codec libs in this container).
"""

from __future__ import annotations

import struct

import numpy as np

# Order in which code-length-code lengths are transmitted (spec constant).
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

_NUM_LITERALS = 256
_NUM_LENGTH_CODES = 24
_NUM_DISTANCE_CODES = 40
_GREEN_BASE = _NUM_LITERALS + _NUM_LENGTH_CODES  # 280: first colour-cache sym

_T_PREDICTOR = 0
_T_COLOR = 1
_T_SUBTRACT_GREEN = 2

_MAX_CODE_LEN = 15
_HASH_MUL = 0x1E35A7BD

# The 120 "plane code" short distances: code c (1-based) packs
# (yoffset << 4) | (8 - xoffset); dist = yoffset*xsize + xoffset (min 1).
# Spec table, ordered by 2-D closeness (code 1 = pixel above, 2 = left).
_CODE_TO_PLANE = (
    0x18, 0x07, 0x17, 0x19, 0x28, 0x06, 0x27, 0x29, 0x16, 0x1A,
    0x26, 0x2A, 0x38, 0x05, 0x37, 0x39, 0x15, 0x1B, 0x36, 0x3A,
    0x25, 0x2B, 0x48, 0x04, 0x47, 0x49, 0x14, 0x1C, 0x35, 0x3B,
    0x46, 0x4A, 0x24, 0x2C, 0x58, 0x45, 0x4B, 0x34, 0x3C, 0x03,
    0x57, 0x59, 0x13, 0x1D, 0x56, 0x5A, 0x23, 0x2D, 0x44, 0x4C,
    0x55, 0x5B, 0x33, 0x3D, 0x68, 0x02, 0x67, 0x69, 0x12, 0x1E,
    0x66, 0x6A, 0x22, 0x2E, 0x54, 0x5C, 0x43, 0x4D, 0x65, 0x6B,
    0x32, 0x3E, 0x78, 0x01, 0x77, 0x79, 0x53, 0x5D, 0x11, 0x1F,
    0x64, 0x6C, 0x42, 0x4E, 0x76, 0x7A, 0x21, 0x2F, 0x75, 0x7B,
    0x31, 0x3F, 0x63, 0x6D, 0x52, 0x5E, 0x00, 0x74, 0x7C, 0x41,
    0x4F, 0x10, 0x20, 0x62, 0x6E, 0x30, 0x73, 0x7D, 0x51, 0x5F,
    0x40, 0x61, 0x6F, 0x72, 0x7E, 0x50, 0x71, 0x7F, 0x60, 0x70,
)


def _subsample_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


# ---------------------------------------------------------------------------
# bit I/O — LSB-first within bytes; prefix codes ride MSB-of-code first
# ---------------------------------------------------------------------------


class BitWriter:
    """Collects (value, nbits) fields and packs them once, vectorized.

    Per-call work is two list appends; `getvalue` expands every field to
    its LSB-first bits in one numpy pass and `packbits` them (the byte-at-
    a-time accumulator this replaced was 83% of encode time under profile).
    """

    __slots__ = ("_vals", "_nbits")

    def __init__(self) -> None:
        self._vals: list[int] = []
        self._nbits: list[int] = []

    def write(self, value: int, nbits: int) -> None:
        self._vals.append(value)
        self._nbits.append(nbits)

    def write_code(self, code: int, nbits: int) -> None:
        """Prefix-code path. Codes arriving here are already bit-reversed
        into LSB-first write order by `_canonical_codes` (and the 0/1-bit
        simple-code forms are reversal fixed points), so this is `write`."""
        self._vals.append(code)
        self._nbits.append(nbits)

    def getvalue(self) -> bytes:
        nb = np.array(self._nbits, np.int64)
        vals = np.array(self._vals, np.int64)
        total = int(nb.sum())
        if total == 0:
            return b""
        ends = np.cumsum(nb)
        field_start = np.repeat(ends - nb, nb)
        pos = np.arange(total, dtype=np.int64) - field_start
        bits = (np.repeat(vals, nb) >> pos) & 1
        return np.packbits(bits.astype(np.uint8), bitorder="little").tobytes()


class BitReader:
    """numpy-backed reader: one vectorized pass precomputes an 18-bit
    little-endian window at every bit offset, so the per-symbol hot loop
    is two array lookups (the same trick jpeg.py uses for its scans).

    18 bits, not 16: VP8L distance prefix codes 36-39 carry 17-18 extra
    bits (LZ77 distances past ~256k pixels), and a 16-bit window silently
    truncated them — conformant large-image streams decoded to wrong
    pixels with decode_ok=True (ADVICE r5, high)."""

    __slots__ = ("pos", "nbits", "_peek16")

    _WINDOW = 18  # >= the widest single read the VP8L bitstream can ask for

    def __init__(self, data: bytes) -> None:
        bits = np.unpackbits(np.frombuffer(data, np.uint8), bitorder="little")
        self.nbits = len(bits)
        w = self._WINDOW
        padded = np.concatenate([bits, np.zeros(w, np.uint8)]).astype(np.uint32)
        v = np.zeros(self.nbits + 1, np.uint32)
        for k in range(w):
            v |= padded[k : k + self.nbits + 1] << np.uint32(k)
        # plain-int list: the per-symbol hot loop indexes this, and Python
        # list indexing returns ready ints (no numpy scalar boxing)
        self._peek16 = v.tolist()
        self.pos = 0

    def read(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        if nbits > self._WINDOW:
            raise ValueError(f"vp8l: read({nbits}) exceeds the bit window")
        if self.pos > self.nbits:
            raise ValueError("vp8l: read past end of stream")
        out = self._peek16[self.pos] & ((1 << nbits) - 1)
        self.pos += nbits
        return out


# ---------------------------------------------------------------------------
# canonical prefix codes (RFC1951-style assignment, DEFLATE bit order)
# ---------------------------------------------------------------------------


def _canonical_codes(lengths: np.ndarray) -> dict[int, tuple[int, int]]:
    """symbol -> (code, nbits) for nonzero lengths, canonical order.

    The returned code is the canonical DEFLATE code BIT-REVERSED into
    LSB-first write order — ready for `BitWriter.write`/`write_code` and
    for direct use as an `_HTree` LUT index (both sides of this module
    speak reversed codes; the MSB-first canonical value never escapes)."""
    codes: dict[int, tuple[int, int]] = {}
    max_len = int(lengths.max(initial=0))
    bl_count = np.bincount(lengths, minlength=max_len + 1)
    bl_count[0] = 0
    code = 0
    next_code = [0] * (max_len + 1)
    for ln in range(1, max_len + 1):
        code = (code + int(bl_count[ln - 1])) << 1
        next_code[ln] = code
    for sym in range(len(lengths)):
        ln = int(lengths[sym])
        if ln:
            c = next_code[ln]
            rev = 0
            for _ in range(ln):
                rev = (rev << 1) | (c & 1)
                c >>= 1
            codes[sym] = (rev, ln)
            next_code[ln] += 1
    return codes


class _HTree:
    """Decode side: flat (1 << max_len) lookup of (symbol, length).

    `pairs` overrides canonical assignment — the simple-code form assigns
    code 0 to the FIRST transmitted symbol even when it is numerically
    larger than the second, so position order, not canonical order, rules.
    """

    __slots__ = ("single", "bits", "lut")

    def __init__(
        self,
        lengths: np.ndarray,
        single: int | None = None,
        pairs: list[tuple[int, int, int]] | None = None,
    ) -> None:
        self.single = single
        if single is not None:
            self.bits = 0
            return
        if pairs is None:
            nz = np.flatnonzero(lengths)
            if len(nz) == 1:
                self.single = int(nz[0])
                self.bits = 0
                return
            max_len = int(lengths.max(initial=0))
            if max_len == 0 or max_len > _MAX_CODE_LEN:
                raise ValueError("vp8l: bad code lengths")
            kraft = int(np.sum(1 << (max_len - lengths[nz]).astype(np.int64)))
            if kraft != (1 << max_len):
                raise ValueError("vp8l: incomplete or oversubscribed prefix code")
            pairs = [(s, c, ln) for s, (c, ln) in _canonical_codes(lengths).items()]
        else:
            max_len = max(ln for _, _, ln in pairs)
        self.bits = max_len
        lut_sym = np.zeros(1 << max_len, np.int32)
        lut_len = np.zeros(1 << max_len, np.int32)
        # codes are already LSB-first (bit-reversed canonical — see
        # _canonical_codes; explicit `pairs` carry <=1-bit codes, which
        # are reversal fixed points), so they index the LUT directly
        for sym, code, ln in pairs:
            lut_sym[code :: 1 << ln] = sym
            lut_len[code :: 1 << ln] = ln
        # one packed plain-int list: (length << 20 | symbol); list indexing
        # keeps the per-symbol decode loop free of numpy scalar boxing
        self.lut = ((lut_len.astype(np.int64) << 20) | lut_sym).tolist()

    def decode(self, br: BitReader) -> int:
        if self.single is not None:
            return self.single
        if br.pos > br.nbits:  # same guard as BitReader.read: truncated
            raise ValueError("vp8l: read past end of stream")
        e = self.lut[br._peek16[br.pos] & ((1 << self.bits) - 1)]
        ln = e >> 20
        if ln == 0:
            raise ValueError("vp8l: invalid prefix code word")
        br.pos += ln
        return e & 0xFFFFF


def _huffman_lengths(freq: np.ndarray, max_len: int) -> np.ndarray:
    """Length-limited Huffman code lengths (>=2 active symbols)."""
    import heapq

    lengths = np.zeros(len(freq), np.int64)
    active = np.flatnonzero(freq)
    if len(active) < 2:
        raise ValueError("need >=2 symbols")
    heap: list[tuple[int, int, tuple]] = []
    tie = 0
    for s in active:
        heapq.heappush(heap, (int(freq[s]), tie, (int(s),)))
        tie += 1
    while len(heap) > 1:
        fa, _, a = heapq.heappop(heap)
        fb, _, b = heapq.heappop(heap)
        heapq.heappush(heap, (fa + fb, tie, a + b))
        tie += 1
        for s in a + b:
            lengths[s] += 1
    # clamp to max_len and re-balance the Kraft sum to exactly 1
    lengths[active] = np.minimum(lengths[active], max_len)
    full = 1 << max_len

    def kraft() -> int:
        return int(np.sum(1 << (max_len - lengths[active]).astype(np.int64)))

    while kraft() > full:  # oversubscribed: push the deepest short code down
        cand = active[(lengths[active] < max_len)]
        victim = cand[np.argmax(lengths[cand])]
        lengths[victim] += 1
    while kraft() < full:  # incomplete: promote the deepest code up if it fits
        gain_ok = active[
            (1 << (max_len - lengths[active])) <= (full - kraft())
        ]
        victim = gain_ok[np.argmax(lengths[gain_ok])]
        lengths[victim] -= 1
    return lengths


# ---------------------------------------------------------------------------
# prefix (length/distance) value coding
# ---------------------------------------------------------------------------


def _prefix_encode(v: int) -> tuple[int, int, int]:
    """value >= 1 -> (prefix_code, n_extra_bits, extra_value)."""
    x = v - 1
    if x < 4:
        return x, 0, 0
    e = x.bit_length() - 2
    b = (x >> e) & 1
    return 2 * e + 2 + b, e, x - ((2 + b) << e)


def _prefix_decode(code: int, br: BitReader) -> int:
    if code < 4:
        return code + 1
    e = (code - 2) >> 1
    offset = (2 + (code & 1)) << e
    return offset + br.read(e) + 1


def _plane_to_dist(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    v = _CODE_TO_PLANE[code - 1]
    dist = (v >> 4) * xsize + (8 - (v & 0xF))
    return dist if dist >= 1 else 1


# ---------------------------------------------------------------------------
# prefix-code (de)serialization
# ---------------------------------------------------------------------------


def _read_code(br: BitReader, alphabet_size: int) -> _HTree:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        sym0 = br.read(8) if br.read(1) else br.read(1)
        if sym0 >= alphabet_size:  # libwebp rejects such streams
            raise ValueError("vp8l: simple-code symbol out of alphabet")
        if num_symbols == 1:
            return _HTree(np.zeros(0, np.int64), single=sym0)
        sym1 = br.read(8)
        if sym1 >= alphabet_size:
            raise ValueError("vp8l: simple-code symbol out of alphabet")
        return _HTree(
            np.zeros(0, np.int64), pairs=[(sym0, 0, 1), (sym1, 1, 1)]
        )
    clc_len = np.zeros(19, np.int64)
    num_clc = 4 + br.read(4)
    for i in range(num_clc):
        clc_len[_CLC_ORDER[i]] = br.read(3)
    clc = _HTree(clc_len)
    if br.read(1):  # explicit max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = np.zeros(alphabet_size, np.int64)
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        s = clc.decode(br)
        if s < 16:
            lengths[symbol] = s
            symbol += 1
            if s:
                prev_len = s
        else:
            if s == 16:
                repeat, fill = 3 + br.read(2), prev_len
            elif s == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            end = min(symbol + repeat, alphabet_size)
            lengths[symbol:end] = fill
            symbol = end
    return _HTree(lengths)


def _write_code(bw: BitWriter, freq: np.ndarray) -> dict[int, tuple[int, int]]:
    """Serialize one prefix code chosen from freq; returns sym->(code,len)."""
    nz = np.flatnonzero(freq)
    if len(nz) == 0:
        nz = np.array([0])
    if len(nz) == 1 and nz[0] <= 255:
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # num_symbols - 1
        s = int(nz[0])
        if s <= 1:
            bw.write(0, 1)
            bw.write(s, 1)
        else:
            bw.write(1, 1)
            bw.write(s, 8)
        return {s: (0, 0)}
    if len(nz) == 2 and nz[1] <= 255:
        bw.write(1, 1)
        bw.write(1, 1)
        s0, s1 = int(nz[0]), int(nz[1])
        if s0 <= 1:
            bw.write(0, 1)
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        bw.write(s1, 8)
        return {s0: (0, 1), s1: (1, 1)}
    # normal code
    if len(nz) == 1:  # single symbol > 255: pad with an unused 1-bit partner
        lengths = np.zeros(len(freq), np.int64)
        lengths[nz[0]] = 1
        lengths[0] = 1
    else:
        lengths = _huffman_lengths(freq, _MAX_CODE_LEN)
    # RLE tokens over the length array (literals + 17/18 zero-runs)
    toks: list[tuple[int, int, int]] = []  # (sym, extra_nbits, extra_val)
    i = 0
    n = len(lengths)
    while i < n:
        if lengths[i] == 0:
            j = i
            while j < n and lengths[j] == 0:
                j += 1
            run = j - i
            while run >= 11:
                take = min(run, 138)
                toks.append((18, 7, take - 11))
                run -= take
            while run >= 3:
                take = min(run, 10)
                toks.append((17, 3, take - 3))
                run -= take
            toks.extend((0, 0, 0) for _ in range(run))
            i = j
        else:
            toks.append((int(lengths[i]), 0, 0))
            i += 1
    clc_freq = np.zeros(19, np.int64)
    for s, _, _ in toks:
        clc_freq[s] += 1
    cnz = np.flatnonzero(clc_freq)
    clc_len = np.zeros(19, np.int64)
    if len(cnz) == 1:  # complete 1-bit code with an unused partner
        clc_len[cnz[0]] = 1
        clc_len[0 if cnz[0] != 0 else 1] = 1
    else:
        clc_len = _huffman_lengths(clc_freq, 7)
    bw.write(0, 1)  # not simple
    num_clc = max(
        4, max(i for i in range(19) if clc_len[_CLC_ORDER[i]] or i < 4) + 1
    )
    bw.write(num_clc - 4, 4)
    for i in range(num_clc):
        bw.write(int(clc_len[_CLC_ORDER[i]]), 3)
    bw.write(0, 1)  # no max_symbol cutoff
    clc_codes = _canonical_codes(clc_len)
    for s, nb, ev in toks:
        c, ln = clc_codes[s]
        bw.write_code(c, ln)
        if nb:
            bw.write(ev, nb)
    return _canonical_codes(lengths)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _decode_entropy_coded(
    br: BitReader, xsize: int, ysize: int, level0: bool
) -> np.ndarray:
    """One spatially-coded ARGB image -> flat uint32 array (len x*y).
    level0 also reads the transform list and applies inverses."""
    transforms: list[tuple[int, int, object, int]] = []
    if level0:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("vp8l: repeated transform")
            seen.add(ttype)
            if ttype in (_T_PREDICTOR, _T_COLOR):
                bits = br.read(3) + 2
                timg = _decode_entropy_coded(
                    br,
                    _subsample_size(xsize, bits),
                    _subsample_size(ysize, bits),
                    False,
                )
                transforms.append((ttype, bits, timg, xsize))
            elif ttype == _T_SUBTRACT_GREEN:
                transforms.append((ttype, 0, None, xsize))
            else:  # COLOR_INDEXING
                n_colors = br.read(8) + 1
                pal = _decode_entropy_coded(br, n_colors, 1, False)
                # palette entries are delta-coded per channel
                p = pal.view(np.uint8).reshape(-1, 4)
                pal = np.cumsum(p.astype(np.uint32), axis=0).astype(np.uint8)
                pal = pal.copy().view(np.uint32).ravel()
                width_bits = (
                    3 if n_colors <= 2 else 2 if n_colors <= 4 else 1 if n_colors <= 16 else 0
                )
                transforms.append((ttype, width_bits, pal, xsize))
                xsize = _subsample_size(xsize, width_bits)

    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise ValueError("vp8l: bad colour-cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta_idx = None
    hbits = 0
    n_groups = 1
    if level0 and br.read(1):
        hbits = br.read(3) + 2
        mw = _subsample_size(xsize, hbits)
        mh = _subsample_size(ysize, hbits)
        meta = _decode_entropy_coded(br, mw, mh, False)
        meta_idx = (((meta >> 8) & 0xFFFF)).astype(np.int64).reshape(mh, mw)
        n_groups = int(meta_idx.max()) + 1

    green_size = _GREEN_BASE + cache_size
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                _read_code(br, green_size),
                _read_code(br, _NUM_LITERALS),
                _read_code(br, _NUM_LITERALS),
                _read_code(br, _NUM_LITERALS),
                _read_code(br, _NUM_DISTANCE_CODES),
            )
        )

    n = xsize * ysize
    out = np.zeros(n, np.uint32)
    cache = np.zeros(max(cache_size, 1), np.uint32)
    shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    trees = groups[0]
    while pos < n:
        if meta_idx is not None:
            y, x = divmod(pos, xsize)
            trees = groups[int(meta_idx[y >> hbits, x >> hbits])]
        g, rt, bt, at, dt = trees
        s = g.decode(br)
        if s < _NUM_LITERALS:
            red = rt.decode(br)
            blue = bt.decode(br)
            alpha = at.decode(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            if cache_bits:
                cache[((px * _HASH_MUL) & 0xFFFFFFFF) >> shift] = px
            pos += 1
        elif s < _GREEN_BASE:
            length = _prefix_decode(s - _NUM_LITERALS, br)
            dist = _plane_to_dist(_prefix_decode(dt.decode(br), br), xsize)
            if dist > pos or pos + length > n:
                raise ValueError("vp8l: backref out of range")
            if dist == 1:
                out[pos : pos + length] = out[pos - 1]
            elif dist >= length:
                out[pos : pos + length] = out[pos - dist : pos - dist + length]
            else:
                reps = -(-length // dist)
                out[pos : pos + length] = np.tile(out[pos - dist : pos], reps)[
                    :length
                ]
            if cache_bits:
                vals = out[pos : pos + length]
                keys = ((vals.astype(np.uint64) * _HASH_MUL) & 0xFFFFFFFF) >> shift
                # sequential-insert semantics: the LAST write per key wins
                uk, first = np.unique(keys[::-1].astype(np.int64), return_index=True)
                cache[uk] = vals[::-1][first]
            pos += length
        else:
            idx = s - _GREEN_BASE
            if idx >= cache_size:
                raise ValueError("vp8l: cache index out of range")
            out[pos] = cache[idx]
            pos += 1

    # inverse transforms, reverse read order
    for ttype, bits, tdata, orig_xsize in reversed(transforms):
        if ttype == _T_SUBTRACT_GREEN:
            ch = out.view(np.uint8).reshape(-1, 4)  # little-endian: b,g,r,a
            g8 = ch[:, 1]
            ch[:, 2] += g8
            ch[:, 0] += g8
        elif ttype == _T_COLOR:
            out = _inv_color_transform(out, xsize, ysize, bits, tdata)
        elif ttype == _T_PREDICTOR:
            out = _inv_predictor(out, xsize, ysize, bits, tdata)
        else:  # COLOR_INDEXING: unpack bundled indices, widen back
            out = _inv_indexing(out, xsize, ysize, bits, tdata, orig_xsize)
            xsize = orig_xsize
    return out


def _inv_indexing(
    out: np.ndarray, packed_xsize: int, ysize: int, width_bits: int, pal: np.ndarray, xsize: int
) -> np.ndarray:
    greens = ((out >> 8) & 0xFF).reshape(ysize, packed_xsize)
    bpp = 8 >> width_bits
    per = 1 << width_bits
    xs = np.arange(xsize)
    cols = xs >> width_bits
    shifts = ((xs & (per - 1)) * bpp).astype(np.uint32)
    idx = (greens[:, cols] >> shifts[None, :]) & ((1 << bpp) - 1)
    pal_full = np.zeros(1 << bpp if width_bits else 256, np.uint32)
    pal_full[: len(pal)] = pal
    return pal_full[idx.astype(np.int64)].ravel()


def _inv_color_transform(
    out: np.ndarray, xsize: int, ysize: int, bits: int, timg: np.ndarray
) -> np.ndarray:
    tw = _subsample_size(xsize, bits)
    tiles = timg.reshape(-1, tw)
    ys = np.arange(ysize) >> bits
    xs = np.arange(xsize) >> bits
    t = tiles[ys][:, xs].ravel()  # per-pixel transform element
    # packing per spec: green_to_red rides the BLUE channel, green_to_blue
    # the GREEN channel, red_to_blue the RED channel; each is a signed int8
    # multiplier applied as (m * int8(channel)) >> 5 (arithmetic shift).
    g2r = (t & 0xFF).astype(np.uint8).astype(np.int8).astype(np.int32)
    g2b = ((t >> 8) & 0xFF).astype(np.uint8).astype(np.int8).astype(np.int32)
    r2b = ((t >> 16) & 0xFF).astype(np.uint8).astype(np.int8).astype(np.int32)
    a = (out >> 24) & 0xFF
    r = ((out >> 16) & 0xFF).astype(np.int32)
    g = ((out >> 8) & 0xFF).astype(np.uint8)
    b = (out & 0xFF).astype(np.int32)
    gs = g.astype(np.int8).astype(np.int32)
    r = (r + np.floor_divide(g2r * gs, 32)) & 0xFF
    rs = (r & 0xFF).astype(np.uint8).astype(np.int8).astype(np.int32)
    b = (b + np.floor_divide(g2b * gs, 32) + np.floor_divide(r2b * rs, 32)) & 0xFF
    return (
        (a.astype(np.uint32) << 24)
        | (r.astype(np.uint32) << 16)
        | (g.astype(np.uint32) << 8)
        | b.astype(np.uint32)
    )


def _inv_predictor(
    out: np.ndarray, xsize: int, ysize: int, bits: int, timg: np.ndarray
) -> np.ndarray:
    """Per-pixel scalar loop — predictor streams only come from foreign
    encoders here (ours never emits this transform), and test images are
    tiny. Channel order in each 4-vector: (a, r, g, b)."""
    tw = _subsample_size(xsize, bits)
    modes = ((timg >> 8) & 0xFF).reshape(-1, tw)
    px = out.view(np.uint8).reshape(ysize, xsize, 4)  # b,g,r,a little-endian

    def vec(y: int, x: int) -> np.ndarray:
        return px[y, x].astype(np.int32)

    black = np.array([0, 0, 0, 255], np.int32)  # b,g,r,a
    for y in range(ysize):
        for x in range(xsize):
            if x == 0 and y == 0:
                pred = black
            elif y == 0:
                pred = vec(0, x - 1)
            elif x == 0:
                pred = vec(y - 1, 0)
            else:
                mode = int(modes[y >> bits, x >> bits])
                left = vec(y, x - 1)
                top = vec(y - 1, x)
                tl = vec(y - 1, x - 1)
                # top-right: last column wraps to this row's first pixel
                tr = vec(y - 1, x + 1) if x + 1 < xsize else vec(y, 0)
                if mode == 0:
                    pred = black
                elif mode == 1:
                    pred = left
                elif mode == 2:
                    pred = top
                elif mode == 3:
                    pred = tr
                elif mode == 4:
                    pred = tl
                elif mode == 5:
                    pred = (((left + tr) >> 1) + top) >> 1
                elif mode == 6:
                    pred = (left + tl) >> 1
                elif mode == 7:
                    pred = (left + top) >> 1
                elif mode == 8:
                    pred = (tl + top) >> 1
                elif mode == 9:
                    pred = (top + tr) >> 1
                elif mode == 10:
                    pred = (((left + tl) >> 1) + ((top + tr) >> 1)) >> 1
                elif mode == 11:
                    p = left + top - tl
                    pl = int(np.abs(p - left).sum())
                    pt = int(np.abs(p - top).sum())
                    pred = left if pl < pt else top  # spec: tie picks top
                elif mode == 12:
                    pred = np.clip(left + top - tl, 0, 255)
                elif mode == 13:
                    ave = (left + top) >> 1
                    d = ave - tl
                    half = np.sign(d) * (np.abs(d) >> 1)  # trunc toward 0
                    pred = np.clip(ave + half, 0, 255)
                else:
                    raise ValueError(f"vp8l: bad predictor mode {mode}")
            px[y, x] = ((px[y, x].astype(np.int32) + pred) & 0xFF).astype(np.uint8)
    return out


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def encode_vp8l(pixels: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB -> raw VP8L payload (no RIFF header)."""
    h, w, c = pixels.shape
    if c != 3 or pixels.dtype != np.uint8:
        raise ValueError("expected HxWx3 uint8")
    if w > 16384 or h > 16384 or w < 1 or h < 1:
        raise ValueError("vp8l: dims out of range")
    r = pixels[:, :, 0].astype(np.uint8)
    g = pixels[:, :, 1].astype(np.uint8)
    b = pixels[:, :, 2].astype(np.uint8)
    # SUBTRACT_GREEN forward
    r = r - g
    b = b - g
    argb = (
        np.uint32(0xFF000000)
        | (r.astype(np.uint32) << 16)
        | (g.astype(np.uint32) << 8)
        | b.astype(np.uint32)
    ).ravel()

    cache_bits = 8
    cache_size = 1 << cache_bits
    keys = (
        ((argb.astype(np.uint64) * _HASH_MUL) & 0xFFFFFFFF) >> (32 - cache_bits)
    ).astype(np.int64)

    # dist-1 runs
    n = len(argb)
    starts = np.flatnonzero(np.concatenate([[True], argb[1:] != argb[:-1]]))
    run_lens = np.diff(np.append(starts, n))

    LIT, CACHE, COPY = 0, 1, 2
    toks: list[tuple[int, int]] = []  # (kind, payload)
    green_freq = np.zeros(_GREEN_BASE + cache_size, np.int64)
    red_freq = np.zeros(256, np.int64)
    blue_freq = np.zeros(256, np.int64)
    alpha_freq = np.zeros(256, np.int64)
    dist_freq = np.zeros(_NUM_DISTANCE_CODES, np.int64)
    dist_code, dist_ebits, dist_extra = _prefix_encode(1 + 120)  # scalar form

    # Python lists throughout the sequential cache simulation — per-element
    # numpy scalar indexing was the hot path under profile
    cache_val = [-1] * cache_size  # -1 = empty (pixel values are uint32)
    tok_app = toks.append
    for v, k, ln in zip(
        argb[starts].tolist(), keys[starts].tolist(), run_lens.tolist()
    ):
        if cache_val[k] == v:
            tok_app((CACHE, k))
            green_freq[_GREEN_BASE + k] += 1
        else:
            tok_app((LIT, v))
            green_freq[(v >> 8) & 0xFF] += 1
            red_freq[(v >> 16) & 0xFF] += 1
            blue_freq[v & 0xFF] += 1
            alpha_freq[v >> 24] += 1
            cache_val[k] = v
        rem = ln - 1
        if rem == 1:  # single repeat: a cache hit is cheaper than a copy
            tok_app((CACHE, k))
            green_freq[_GREEN_BASE + k] += 1
        else:
            while rem > 0:
                take = min(rem, 4096)
                tok_app((COPY, take))
                pc, _, _ = _prefix_encode(take)
                green_freq[_NUM_LITERALS + pc] += 1
                dist_freq[dist_code] += 1
                rem -= take

    bw = BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    bw.write(1, 1)
    bw.write(_T_SUBTRACT_GREEN, 2)
    bw.write(0, 1)  # no more transforms
    bw.write(1, 1)
    bw.write(cache_bits, 4)
    bw.write(0, 1)  # no meta prefix codes
    g_codes = _write_code(bw, green_freq)
    r_codes = _write_code(bw, red_freq)
    b_codes = _write_code(bw, blue_freq)
    a_codes = _write_code(bw, alpha_freq)
    d_codes = _write_code(bw, dist_freq)

    # emission: bound the append methods once; codes are pre-reversed, so
    # every field is a straight (value, nbits) push into the BitWriter
    v_app = bw._vals.append
    n_app = bw._nbits.append
    # absent when no COPY token was emitted (all-distinct pixel stream)
    dc_code, dc_len = d_codes.get(dist_code, (0, 0))
    for kind, payload in toks:
        if kind == LIT:
            cc, cl = g_codes[(payload >> 8) & 0xFF]
            v_app(cc)
            n_app(cl)
            cc, cl = r_codes[(payload >> 16) & 0xFF]
            v_app(cc)
            n_app(cl)
            cc, cl = b_codes[payload & 0xFF]
            v_app(cc)
            n_app(cl)
            cc, cl = a_codes[payload >> 24]
            v_app(cc)
            n_app(cl)
        elif kind == CACHE:
            cc, cl = g_codes[_GREEN_BASE + payload]
            v_app(cc)
            n_app(cl)
        else:
            pc, eb, ev = _prefix_encode(payload)
            cc, cl = g_codes[_NUM_LITERALS + pc]
            v_app(cc)
            n_app(cl)
            if eb:
                v_app(ev)
                n_app(eb)
            v_app(dc_code)
            n_app(dc_len)
            if dist_ebits:
                v_app(dist_extra)
                n_app(dist_ebits)
    return bw.getvalue()


def decode_vp8l(payload: bytes) -> np.ndarray:
    """raw VP8L payload -> HxWx3 uint8 RGB (alpha dropped)."""
    br = BitReader(payload)
    if br.read(8) != 0x2F:
        raise ValueError("vp8l: bad signature")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("vp8l: unsupported version")
    argb = _decode_entropy_coded(br, w, h, True).reshape(h, w)
    out = np.empty((h, w, 3), np.uint8)
    out[:, :, 0] = (argb >> 16) & 0xFF
    out[:, :, 1] = (argb >> 8) & 0xFF
    out[:, :, 2] = argb & 0xFF
    return out


# ---------------------------------------------------------------------------
# RIFF container
# ---------------------------------------------------------------------------


def encode_webp(pixels: np.ndarray) -> bytes:
    payload = encode_vp8l(pixels)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def decode_webp(data: bytes) -> np.ndarray:
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WEBP RIFF container")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if pos + 8 + size > len(data):
            raise ValueError("webp: truncated chunk")
        body = data[pos + 8 : pos + 8 + size]
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"VP8 ":
            raise NotImplementedError(
                "lossy VP8 webp needs a full VP8 intra decoder; only the "
                "lossless VP8L form is implemented from scratch here"
            )
        pos += 8 + size + (size & 1)
    raise ValueError("webp: no VP8L chunk found")
