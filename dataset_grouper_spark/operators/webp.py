"""WebP lossless (VP8L) codec — pure stdlib + numpy, no PIL.

Scope (honest): the FULL VP8L decode path per the public "WebP
Lossless Bitstream Specification" — canonical prefix codes (simple and
code-length-coded), meta-prefix groups, color cache, LZ77 backward
references with the 2D distance map, and all four inverse transforms
(predictor with its 14 modes, cross-color, subtract-green, color
indexing with sub-byte packing); RIFF and VP8X-extended containers.
Lossy VP8 stays honestly gated (returns None -> multimodal's PIL
gate). The encoder half emits literal-only VP8L (complete two-tier
canonical codes, no transforms) — enough to make encode->decode a
LOSSLESS identity for arbitrary RGB(A), which is the fixture/oracle
contract; transform and cache decode paths are pinned by hand-built
spec streams in tests.

Perf shape: entropy decode is inherently sequential per image (bit
stream + LZ77 state), so the Python loop here is per-file; the
distributed dimension comes from the Arrow-batched mapInPandas ops in
multimodal.py fanning files across partitions — same posture as the
GIF/PNG/JPEG codecs.
"""

from __future__ import annotations

import struct

import numpy as np

# code-length-code transmission order (spec §"Code Length Code")
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# 120-entry 2D distance neighborhood map (spec §"Distance Mapping"),
# (xoff, yoff) pairs: dist = xoff + yoff * xsize, clamped to >= 1
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


class _Bits:
    """LSB-first bit reader (VP8L bit order — opposite of JPEG)."""

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.d):
                raise ValueError("vp8l: truncated stream")
            v |= ((self.d[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v


class _Huff:
    """Canonical prefix code (DEFLATE-style assignment); symbols read
    bit-by-bit, first bit = MSB of the code. A single-symbol code
    consumes ZERO bits (spec: simple code with one symbol)."""

    def __init__(self, lengths: list[int]):
        self.single = None
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if len(nz) == 1:
            self.single = nz[0][1]
            self.map = {}
            return
        bl_count: dict[int, int] = {}
        for l, _s in nz:
            bl_count[l] = bl_count.get(l, 0) + 1
        code = 0
        next_code = {}
        for l in range(1, max(bl_count) + 1):
            code = (code + bl_count.get(l - 1, 0)) << 1
            next_code[l] = code
        self.map = {}
        for s, l in enumerate(lengths):
            if l > 0:
                self.map[(l, next_code[l])] = s
                next_code[l] += 1
        # completeness check (spec requires complete codes unless single)
        kraft = sum(2 ** -l for l, _ in nz)
        if abs(kraft - 1.0) > 1e-9:
            raise ValueError("vp8l: incomplete prefix code")

    def read(self, br: _Bits) -> int:
        if self.single is not None:
            return self.single
        code, length = 0, 0
        while True:
            code = (code << 1) | br.read(1)
            length += 1
            if (length, code) in self.map:
                return self.map[(length, code)]
            if length > 15:
                raise ValueError("vp8l: bad prefix code")


def _read_code(br: _Bits, alphabet_size: int) -> _Huff:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_len = 8 if br.read(1) else 1
        s0 = br.read(first_len)
        lengths = [0] * alphabet_size
        if num_symbols == 2:
            s1 = br.read(8)
            if s0 >= alphabet_size or s1 >= alphabet_size:
                raise ValueError("vp8l: simple code symbol out of range")
            lengths[s0] = lengths[s1] = 1
        else:
            if s0 >= alphabet_size:
                raise ValueError("vp8l: simple code symbol out of range")
            lengths[s0] = 1
        return _Huff(lengths)
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl = _Huff(cl_lengths)
    if br.read(1):  # explicit max-symbol count
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol, prev = 0, 8
    while symbol < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        cl_sym = cl.read(br)
        if cl_sym < 16:
            lengths[symbol] = cl_sym
            symbol += 1
            if cl_sym:
                prev = cl_sym
        elif cl_sym == 16:
            rep = 3 + br.read(2)
            lengths[symbol : symbol + rep] = [prev] * min(
                rep, alphabet_size - symbol
            )
            symbol += rep
        elif cl_sym == 17:
            symbol += 3 + br.read(3)
        else:
            symbol += 11 + br.read(7)
    return _Huff(lengths)


def _prefix_value(br: _Bits, code: int) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _decode_entropy_image(
    br: _Bits, w: int, h: int, is_level0: bool, transforms=None
):
    """The spec's DecodeImageStream: optional transforms (level 0
    only), optional color cache, optional meta-prefix groups, then the
    prefix-coded ARGB pixel stream with LZ77 and cache refs. Returns a
    uint32 ARGB array of shape (h, w) (pre-inverse-transform)."""
    xsize = w
    if is_level0:
        while br.read(1):
            ttype = br.read(2)
            if transforms is not None and any(
                t[0] == ttype for t in transforms
            ):
                raise ValueError("vp8l: duplicate transform")
            if ttype == 0 or ttype == 1:  # predictor / cross-color
                size_bits = br.read(3) + 2
                bw = -(-xsize // (1 << size_bits))
                bh = -(-h // (1 << size_bits))
                sub = _decode_entropy_image(br, bw, bh, False)
                transforms.append((ttype, size_bits, sub, xsize))
            elif ttype == 2:  # subtract green
                transforms.append((2, None, None, xsize))
            else:  # color indexing
                pal_size = br.read(8) + 1
                pal = _decode_entropy_image(br, pal_size, 1, False)[0]
                pal = np.cumsum(
                    pal.view(np.uint8).reshape(-1, 4).astype(np.uint32),
                    axis=0,
                    dtype=np.uint32,
                ) & 0xFF  # delta-coded palette, per channel mod 256
                pal = (
                    pal.astype(np.uint32)[:, 0]
                    | (pal.astype(np.uint32)[:, 1] << 8)
                    | (pal.astype(np.uint32)[:, 2] << 16)
                    | (pal.astype(np.uint32)[:, 3] << 24)
                )
                if pal_size <= 2:
                    width_bits = 3
                elif pal_size <= 4:
                    width_bits = 2
                elif pal_size <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append((3, width_bits, pal, xsize))
                if width_bits:
                    # packed width: 1<<width_bits indices per pixel
                    xsize = -(-xsize // (1 << width_bits))
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("vp8l: bad cache bits")
    meta = None
    meta_bits = 0
    num_groups = 1
    if is_level0 and br.read(1):
        meta_bits = br.read(3) + 2
        mw = -(-xsize // (1 << meta_bits))
        mh = -(-h // (1 << meta_bits))
        meta = _decode_entropy_image(br, mw, mh, False)
        meta = ((meta >> 8) & 0xFFFF).astype(np.int64)  # (r<<8)|g
        num_groups = int(meta.max()) + 1
    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(num_groups):
        groups.append(
            (
                _read_code(br, green_size),
                _read_code(br, 256),
                _read_code(br, 256),
                _read_code(br, 256),
                _read_code(br, 40),
            )
        )
    cache = [0] * (1 << cache_bits) if cache_bits else None
    total = xsize * h
    out = np.zeros(total, dtype=np.uint32)
    pos = 0
    g0 = groups[0]
    while pos < total:
        if meta is not None:
            x, y = pos % xsize, pos // xsize
            grp = groups[int(meta[y >> meta_bits, x >> meta_bits])]
        else:
            grp = g0
        hg, hr, hb, ha, hd = grp
        s = hg.read(br)
        if s < 256:
            r = hr.read(br)
            b = hb.read(br)
            a = ha.read(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            out[pos] = px
            if cache is not None:
                cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            pos += 1
        elif s < 256 + 24:
            length = _prefix_value(br, s - 256)
            dcode = _prefix_value(br, hd.read(br)) - 1
            if dcode < 120:
                xoff, yoff = _DIST_MAP[dcode]
                dist = xoff + yoff * xsize
                if dist < 1:
                    dist = 1
            else:
                dist = dcode - 120 + 1
            if dist > pos or pos + length > total:
                raise ValueError("vp8l: bad backward reference")
            for i in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                if cache is not None:
                    cache[
                        ((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = px
                pos += 1
        else:
            if cache is None:
                raise ValueError("vp8l: cache ref without cache")
            px = cache[s - 256 - 24]
            out[pos] = px
            pos += 1
    return out.reshape(h, xsize)


def _inverse_predictor(img, size_bits, sub, h, w):
    """Spec §Predictor Transform inverse: per-pixel add (mod 256 per
    channel) of the block-mode prediction. Scalar loop — prediction is
    a causal recurrence."""
    ch = img.view(np.uint8).reshape(h, w, 4)  # B, G, R, A (LE uint32)
    modes = ((sub >> 8) & 0xFF).astype(np.int64)

    def avg2(a, b):
        return (a + b) >> 1

    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = np.array([0, 0, 0, 255], dtype=np.int64)
            elif y == 0:
                pred = ch[0, x - 1].astype(np.int64)
            elif x == 0:
                pred = ch[y - 1, 0].astype(np.int64)
            else:
                m = int(modes[y >> size_bits, x >> size_bits])
                L = ch[y, x - 1].astype(np.int64)
                T = ch[y - 1, x].astype(np.int64)
                TL = ch[y - 1, x - 1].astype(np.int64)
                # rightmost column: rows are contiguous in the spec's
                # memory model, so "top-right" wraps to the CURRENT
                # row's first (already-decoded) pixel — libwebp parity
                TR = (
                    ch[y - 1, x + 1].astype(np.int64)
                    if x + 1 < w
                    else ch[y, 0].astype(np.int64)
                )
                if m == 0:
                    pred = np.array([0, 0, 0, 255], dtype=np.int64)
                elif m == 1:
                    pred = L
                elif m == 2:
                    pred = T
                elif m == 3:
                    pred = TR
                elif m == 4:
                    pred = TL
                elif m == 5:
                    pred = avg2(avg2(L, TR), T)
                elif m == 6:
                    pred = avg2(L, TL)
                elif m == 7:
                    pred = avg2(L, T)
                elif m == 8:
                    pred = avg2(TL, T)
                elif m == 9:
                    pred = avg2(T, TR)
                elif m == 10:
                    pred = avg2(avg2(L, TL), avg2(T, TR))
                elif m == 11:
                    p = L + T - TL
                    pl = int(np.abs(p - L).sum())
                    pt = int(np.abs(p - T).sum())
                    pred = L if pl < pt else T
                elif m == 12:
                    pred = np.clip(L + T - TL, 0, 255)
                elif m == 13:
                    a = avg2(L, T)
                    # C integer division truncates toward zero
                    d = a - TL
                    half = np.where(d >= 0, d // 2, -((-d) // 2))
                    pred = np.clip(a + half, 0, 255)
                else:
                    raise ValueError("vp8l: bad predictor mode")
            ch[y, x] = (ch[y, x].astype(np.int64) + pred) & 0xFF
    return img


def _inverse_color(img, size_bits, sub, h, w):
    ch = img.view(np.uint8).reshape(h, w, 4)  # B, G, R, A
    g2r = sub.view(np.uint8).reshape(sub.shape[0], sub.shape[1], 4)[:, :, 0]
    g2b = sub.view(np.uint8).reshape(sub.shape[0], sub.shape[1], 4)[:, :, 1]
    r2b = sub.view(np.uint8).reshape(sub.shape[0], sub.shape[1], 4)[:, :, 2]

    def s8(v):
        return v.astype(np.int64) - 256 * (v.astype(np.int64) >> 7)

    by = np.arange(h) >> size_bits
    bx = np.arange(w) >> size_bits
    G2R = s8(g2r[by][:, bx])
    G2B = s8(g2b[by][:, bx])
    R2B = s8(r2b[by][:, bx])
    g = s8(ch[:, :, 1])
    red = (ch[:, :, 2].astype(np.int64) + ((G2R * g) >> 5)) & 0xFF
    blue = (ch[:, :, 0].astype(np.int64) + ((G2B * g) >> 5)) & 0xFF
    blue = (blue + ((R2B * s8(red.astype(np.uint8))) >> 5)) & 0xFF
    ch[:, :, 2] = red.astype(np.uint8)
    ch[:, :, 0] = blue.astype(np.uint8)
    return img


def decode_vp8l_pixels(b: bytes):
    """WebP container bytes -> (H, W, 4) uint8 RGBA for a VP8L
    (lossless) payload, or None for non-WebP / lossy-VP8 payloads."""
    if len(b) < 20 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        return None
    # chunk walk: VP8L directly or inside a VP8X extended container
    pos = 12
    payload = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"VP8L":
            payload = body
            break
        if cid == b"VP8 ":
            return None  # lossy: honestly gated
        pos += 8 + size + (size & 1)
    if payload is None or len(payload) < 5 or payload[0] != 0x2F:
        return None
    try:
        br = _Bits(payload[1:])
        w = br.read(14) + 1
        h = br.read(14) + 1
        br.read(1)  # alpha hint
        if br.read(3) != 0:  # version
            return None
        transforms: list = []
        img = _decode_entropy_image(br, w, h, True, transforms)
        for ttype, p1, p2, txsize in reversed(transforms):
            if ttype == 3:  # color indexing
                width_bits, pal = p1, p2
                if width_bits:
                    ppp = 1 << width_bits
                    bits = 8 >> width_bits
                    mask = (1 << bits) - 1
                    g = (img >> 8) & 0xFF
                    idx = np.zeros((h, txsize), dtype=np.int64)
                    for sub_x in range(ppp):
                        cols = np.arange(img.shape[1]) * ppp + sub_x
                        keep = cols < txsize
                        idx[:, cols[keep]] = (
                            (g[:, keep] >> (sub_x * bits)) & mask
                        )
                else:
                    idx = ((img >> 8) & 0xFF).astype(np.int64)[:, :txsize]
                safe = np.where(idx < len(pal), idx, 0)
                img = pal[safe].astype(np.uint32)
                img[idx >= len(pal)] = 0
            elif ttype == 2:  # subtract green
                ch = img.view(np.uint8).reshape(h, img.shape[1], 4)
                g = ch[:, :, 1].astype(np.uint16)
                ch[:, :, 0] = ((ch[:, :, 0] + g) & 0xFF).astype(np.uint8)
                ch[:, :, 2] = ((ch[:, :, 2] + g) & 0xFF).astype(np.uint8)
            elif ttype == 1:
                img = _inverse_color(img, p1, p2, h, img.shape[1])
            else:
                img = _inverse_predictor(img, p1, p2, h, img.shape[1])
        ch = img.view(np.uint8).reshape(h, img.shape[1], 4)
        rgba = np.stack(
            [ch[:, :, 2], ch[:, :, 1], ch[:, :, 0], ch[:, :, 3]], axis=2
        )
        return np.ascontiguousarray(rgba)
    except (ValueError, IndexError):
        return None


# ---------------------------------------------------------------- encoder


class _BitsW:
    """LSB-first bit writer; ``put_code`` mirrors the reader's
    MSB-of-code-first symbol walk."""

    def __init__(self):
        self.out = bytearray()
        self.bit = 0

    def put(self, v: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.out.append(0)
            if (v >> i) & 1:
                self.out[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def put_code(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.put((code >> i) & 1, 1)


def _canonical(lengths: list[int]) -> dict[int, tuple[int, int]]:
    bl_count: dict[int, int] = {}
    for l in lengths:
        if l:
            bl_count[l] = bl_count.get(l, 0) + 1
    code = 0
    next_code = {}
    for l in range(1, max(bl_count) + 1):
        code = (code + bl_count.get(l - 1, 0)) << 1
        next_code[l] = code
    out = {}
    for s, l in enumerate(lengths):
        if l:
            out[s] = (next_code[l], l)
            next_code[l] += 1
    return out


def _two_tier_lengths(n: int) -> list[int]:
    """Complete canonical code over n symbols using two adjacent code
    lengths (Kraft sum exactly 1): L = ceil(log2 n); x symbols at
    L-1 bits and n-x at L bits with x = 2^L/2 - (n - 2^(L-1))...
    solved directly from x/2^(L-1) + (n-x)/2^L = 1."""
    import math

    L = max(1, math.ceil(math.log2(n))) if n > 1 else 0
    if n == 1:
        return [0]  # single-symbol: zero-bit code
    x = (1 << L) - n  # symbols at length L-1
    return [L - 1] * x + [L] * (n - x) if x else [L] * n


def _emit_code_lengths(bw: _BitsW, lengths: list[int]) -> None:
    """Transmit symbol code lengths via a code-length code over the
    distinct lengths used: two distinct -> 1-bit cl codes; one
    distinct -> a single-symbol cl code whose reads consume ZERO bits
    (so no per-symbol bits are written at all)."""
    used = sorted({l for l in lengths})
    if len(used) > 2:
        raise ValueError("encoder supports at most two code lengths")
    cl_lengths = [0] * 19
    for u in used:
        cl_lengths[u] = 1
    need = max(_CL_ORDER.index(u) for u in used) + 1
    bw.put(0, 1)  # not simple
    bw.put(need - 4, 4)
    for i in range(need):
        bw.put(cl_lengths[_CL_ORDER[i]], 3)
    bw.put(0, 1)  # no explicit max-symbol
    if len(used) == 1:
        return  # single-symbol cl code: every read is 0 bits
    cl_codes = _canonical(cl_lengths)
    for l in lengths:
        code, ln = cl_codes[l]
        bw.put_code(code, ln)


def _emit_prefix_codes(bw: _BitsW):
    """Emit the 5 two-tier literal prefix codes (no cache); returns
    the (green, byte) encode maps for pixel emission."""
    green_l = _two_tier_lengths(256 + 24)
    byte_l = _two_tier_lengths(256)
    dist_l = _two_tier_lengths(40)
    for lengths in (green_l, byte_l, byte_l, byte_l, dist_l):
        _emit_code_lengths(bw, lengths)
    return _canonical(green_l), _canonical(byte_l)


def _emit_literal_pixels(bw: _BitsW, arr, cg, cb):
    """ARGB pixel stream as pure literals: green, red, blue, alpha
    codes per pixel — arr is (H, W, 4) uint8 RGBA."""
    for y in range(arr.shape[0]):
        for x in range(arr.shape[1]):
            r, g, b, a = (int(v) for v in arr[y, x])
            bw.put_code(*cg[g])
            bw.put_code(*cb[r])
            bw.put_code(*cb[b])
            bw.put_code(*cb[a])


def _emit_entropy_image(bw: _BitsW, arr):
    """A complete entropy-coded (sub)image: cache-info bit 0, prefix
    codes, literal pixels — the stream the decoder's recursive
    ``_decode_entropy_image(is_level0=False)`` consumes. Tests use
    this to hand-build transform subimages per the spec."""
    bw.put(0, 1)  # no color cache
    cg, cb = _emit_prefix_codes(bw)
    _emit_literal_pixels(bw, arr, cg, cb)


def _emit_main_image(bw: _BitsW, arr):
    """The LEVEL-0 spatially-coded image body: cache-info bit 0,
    meta-prefix bit 0, prefix codes, literal pixels — what follows the
    transform list in a top-level stream."""
    bw.put(0, 1)  # no color cache
    bw.put(0, 1)  # no meta-prefix
    cg, cb = _emit_prefix_codes(bw)
    _emit_literal_pixels(bw, arr, cg, cb)


def _wrap_vp8l(bw: _BitsW) -> bytes:
    payload = b"\x2f" + bytes(bw.out)
    chunk = payload + (b"\x00" if len(payload) & 1 else b"")
    riff = b"WEBPVP8L" + struct.pack("<I", len(payload)) + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def encode_webp_lossless(rgba) -> bytes:
    """(H, W, 3|4) uint8 -> literal-only VP8L WebP (no transforms, no
    cache, complete two-tier prefix codes). decode(encode(x)) == x
    exactly — WebP lossless really is lossless, which is what makes
    the closed-form oracle possible."""
    arr = np.asarray(rgba, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] not in (3, 4):
        raise ValueError("expected (H, W, 3|4) uint8")
    h, w = arr.shape[:2]
    if arr.shape[2] == 3:
        alpha = np.full((h, w, 1), 255, np.uint8)
        arr = np.concatenate([arr, alpha], axis=2)
    bw = _BitsW()
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(1 if (arr[:, :, 3] != 255).any() else 0, 1)
    bw.put(0, 3)  # version
    bw.put(0, 1)  # no transforms
    bw.put(0, 1)  # no color cache
    bw.put(0, 1)  # no meta-prefix
    cg, cb = _emit_prefix_codes(bw)
    _emit_literal_pixels(bw, arr, cg, cb)
    return _wrap_vp8l(bw)
