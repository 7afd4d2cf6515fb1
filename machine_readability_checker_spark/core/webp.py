"""Pure-stdlib WebP **lossless** (VP8L) codec.

Implements the public "WebP Lossless Bitstream Specification"
(https://developers.google.com/speed/webp/docs/webp_lossless_bitstream_specification):

decoder — the full VP8L feature set:
- LSB-first bit reading, canonical prefix codes (simple 1/2-symbol
  codes and the code-length-coded normal form with the 16/17/18
  repeat codes and the optional max-symbol shortcut);
- color cache (``0x1e35a7bd`` multiplicative hash keys);
- LZ77 backward references with the 120-entry 2D distance map;
- meta prefix codes (entropy image selecting per-block code groups);
- all four transforms, inverted in reverse bitstream order:
  PREDICTOR (14 modes, libwebp's linear-buffer top-right semantics at
  the right edge), COLOR (cross-color deltas ``(int8(t)*int8(c))>>5``),
  SUBTRACT_GREEN, and COLOR_INDEXING (delta-coded palette with 1/2/4-
  bit pixel bundling).

encoder — a real, spec-clean subset used for fixtures and round-trip
verification: literal coding with per-channel canonical Huffman codes
(complete trees; simple codes for 1-2 symbol alphabets), optional
greedy RLE emitting mapped LZ77 distances (left run / above run),
optional color cache, and optional forward transforms
(subtract-green, per-block random-mode predictor, cross-color,
palette with bundling) so every inverse path round-trips against
independently generated pixels.

Container: RIFF/WEBP with a ``VP8L`` chunk (``VP8X`` extended files
are walked to find it).  Lossy ``VP8`` payloads raise ``ValueError``
("lossy") — a full DCT codec is out of scope, and the media kernels
turn that into a quarantine row, matching the other codecs' fail-soft
contract.

Cross-validation caveat (documented, not hidden): no reference WebP
decoder ships in this container (no Pillow/ffmpeg, and ``javax.imageio``
has no WebP reader), so unlike PNG/GIF/BMP the byte-level oracle is
this module's own encoder plus hand-built bitstream vectors.  The
distance map is generated by the spec's published ordering rule
(squared distance, ties by dy then dx descending, first 120 of the
dy∈[0,7]×dx∈[-8,8] causal neighborhood) and its leading 56 entries are
pinned literally in tests.
"""

from __future__ import annotations

import heapq
import struct
from typing import Dict, List, Optional, Sequence, Tuple

# --------------------------------------------------------------- bits

RIFF_MAGIC = b"RIFF"
WEBP_MAGIC = b"WEBP"
VP8L_SIGNATURE = 0x2F

_CODE_LENGTH_ORDER = [
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15
]
_NUM_LITERAL = 256
_NUM_LENGTH_CODES = 24
_MAX_COPY_LEN = 4096  # longest backward-reference length 24 codes reach
_NUM_DISTANCE_CODES = 40
_ARGB_BLACK = 0xFF000000


class _BitReader:
    """LSB-first bit reader over bytes."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            if self.byte >= len(self.data):
                raise ValueError("webp: bitstream truncated")
            v |= ((self.data[self.byte] >> self.bit) & 1) << i
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return v

    def read_bit(self) -> int:
        return self.read(1)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            self.cur |= ((value >> i) & 1) << self.nbits
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.cur)
                self.cur = 0
                self.nbits = 0

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.cur)
            self.cur = 0
            self.nbits = 0
        return bytes(self.out)


# ----------------------------------------------------- canonical codes


class _HuffTree:
    """Canonical prefix code as a flat binary tree for bit-at-a-time
    decode; codes are assigned deflate-style (shorter first, then
    symbol order) and walked MSB-first."""

    __slots__ = ("nodes", "single")

    def __init__(self, lengths: Sequence[int], single: Optional[int] = None):
        self.single = single
        self.nodes: List[List[int]] = [[-1, -1]]  # child indices; -sym-2 = leaf
        if single is not None:
            return
        for sym, code, ln in _canonical_codes(lengths):
            node = 0
            for i in range(ln - 1, -1, -1):
                b = (code >> i) & 1
                nxt = self.nodes[node][b]
                if i == 0:
                    self.nodes[node][b] = -sym - 2
                elif nxt == -1:
                    self.nodes.append([-1, -1])
                    self.nodes[node][b] = len(self.nodes) - 1
                    node = len(self.nodes) - 1
                elif nxt < -1:
                    raise ValueError("webp: invalid prefix code")
                else:
                    node = nxt

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        node = 0
        while True:
            nxt = self.nodes[node][br.read_bit()]
            if nxt < -1:
                return -nxt - 2
            if nxt == -1:
                raise ValueError("webp: invalid code in bitstream")
            node = nxt


def _canonical_codes(
    lengths: Sequence[int],
) -> List[Tuple[int, int, int]]:
    """(symbol, code, length) triples in canonical (deflate) order."""
    pairs = sorted(
        (ln, sym) for sym, ln in enumerate(lengths) if ln > 0
    )
    out = []
    code = 0
    prev_len = 0
    for ln, sym in pairs:
        code <<= ln - prev_len
        prev_len = ln
        out.append((sym, code, ln))
        code += 1
    return out


def _huffman_lengths(freqs: Dict[int, int], max_len: int = 15) -> Dict[int, int]:
    """Plain Huffman code lengths over the used symbols (≥3 of them;
    1-2 symbol alphabets use VP8L simple codes instead).  Fixture
    distributions never approach depth 15; assert rather than
    implement package-merge."""
    heap = [(f, sym, None, None) for sym, f in freqs.items()]
    heapq.heapify(heap)
    n = len(heap)
    if n < 2:
        raise ValueError("use a simple code for 1-2 symbols")
    trees = {i: t for i, t in enumerate(heap)}
    heap = [(f, i) for i, (f, *_r) in trees.items()]
    heapq.heapify(heap)
    nxt = len(trees)
    children: Dict[int, Tuple[Optional[int], Optional[int]]] = {
        i: (None, None) for i in trees
    }
    sym_of = {i: t[1] for i, t in trees.items()}
    while len(heap) > 1:
        f1, a = heapq.heappop(heap)
        f2, b = heapq.heappop(heap)
        children[nxt] = (a, b)
        sym_of[nxt] = None
        heapq.heappush(heap, (f1 + f2, nxt))
        nxt += 1
    root = heap[0][1]
    lengths: Dict[int, int] = {}

    stack = [(root, 0)]
    while stack:
        node, depth = stack.pop()
        a, b = children[node]
        if a is None:
            lengths[sym_of[node]] = max(1, depth)
        else:
            stack.append((a, depth + 1))
            stack.append((b, depth + 1))
    if max(lengths.values()) > max_len:
        raise ValueError("webp encoder: code too deep for fixture data")
    return lengths


# ----------------------------------------------------- distance map


def _distance_map() -> List[Tuple[int, int]]:
    """The spec's 120-entry (dx, dy) plane-code neighborhood: causal
    offsets (dy>0, or dy==0 ∧ dx>0) with |dx| ≤ 8, dy ≤ 7, ordered by
    squared distance with ties broken by larger dy then larger dx."""
    cand = [
        (dx, dy)
        for dy in range(8)
        for dx in range(-8, 9)
        if dy > 0 or dx > 0
    ]
    cand.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))
    return cand[:120]


_DISTANCE_MAP = _distance_map()


def _plane_to_distance(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DISTANCE_MAP[code - 1]
    d = dy * xsize + dx
    return d if d >= 1 else 1


def _prefix_decode(code: int, br: _BitReader) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_encode(value: int) -> Tuple[int, int, int]:
    """value → (code, extra_bits_value, extra_bits_count)."""
    x = value - 1
    if x < 4:
        return x, 0, 0
    e = x.bit_length() - 2
    b = (x >> e) & 1
    return 2 * e + 2 + b, x - ((2 + b) << e), e


# --------------------------------------------------- code reading


def _read_code_lengths(
    br: _BitReader, alphabet_size: int
) -> List[int]:
    cl_lengths = [0] * 19
    num_codes = br.read(4) + 4
    for i in range(num_codes):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_tree = _HuffTree(cl_lengths)
    lengths = [0] * alphabet_size
    if br.read_bit():
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        clen = cl_tree.decode(br)
        if clen < 16:
            lengths[symbol] = clen
            symbol += 1
            if clen:
                prev_len = clen
        else:
            if clen == 16:
                repeat, fill = 3 + br.read(2), prev_len
            elif clen == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            for _ in range(repeat):
                if symbol >= alphabet_size:
                    raise ValueError("webp: code-length overflow")
                lengths[symbol] = fill
                symbol += 1
    return lengths


def _read_huffman_code(br: _BitReader, alphabet_size: int) -> _HuffTree:
    if br.read_bit():  # simple code
        num_symbols = br.read_bit() + 1
        first_8bit = br.read_bit()
        sym0 = br.read(8 if first_8bit else 1)
        if num_symbols == 1:
            return _HuffTree([], single=sym0)
        sym1 = br.read(8)
        lengths = [0] * alphabet_size
        if sym0 >= alphabet_size or sym1 >= alphabet_size or sym0 == sym1:
            raise ValueError("webp: bad simple code")
        lengths[sym0] = 1
        lengths[sym1] = 1
        return _HuffTree(lengths)
    lengths = _read_code_lengths(br, alphabet_size)
    if sum(1 for x in lengths if x) == 0:
        raise ValueError("webp: empty code")
    return _HuffTree(lengths)


# --------------------------------------------------- image stream


def _subsample_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_image_stream(
    br: _BitReader,
    xsize: int,
    ysize: int,
    is_level0: bool,
):
    """→ (pixels ARGB uint32 list, final_xsize, transforms) — the
    spec's shared image-stream grammar; transforms only at level 0."""
    transforms = []
    if is_level0:
        seen = set()
        while br.read_bit():
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("webp: duplicate transform")
            seen.add(ttype)
            if ttype == 2:  # subtract green
                transforms.append((2, xsize, None))
            elif ttype == 0:  # predictor
                bits = br.read(3) + 2
                sub = _decode_image_stream(
                    br,
                    _subsample_size(xsize, bits),
                    _subsample_size(ysize, bits),
                    False,
                )[0]
                transforms.append((0, xsize, (bits, sub)))
            elif ttype == 1:  # cross-color
                bits = br.read(3) + 2
                sub = _decode_image_stream(
                    br,
                    _subsample_size(xsize, bits),
                    _subsample_size(ysize, bits),
                    False,
                )[0]
                transforms.append((1, xsize, (bits, sub)))
            else:  # color indexing
                n_colors = br.read(8) + 1
                pal_img = _decode_image_stream(br, n_colors, 1, False)[0]
                palette = []
                prev = 0
                for p in pal_img:
                    # component-wise delta accumulate, mod 256
                    cur = (
                        (((p >> 24) + (prev >> 24)) & 0xFF) << 24
                        | (((p >> 16) + (prev >> 16)) & 0xFF) << 16
                        | (((p >> 8) + (prev >> 8)) & 0xFF) << 8
                        | ((p + prev) & 0xFF)
                    )
                    palette.append(cur)
                    prev = cur
                pack_bits = _palette_pack_bits(n_colors)
                transforms.append((3, xsize, (palette, pack_bits)))
                if pack_bits:
                    xsize = _subsample_size(xsize, pack_bits)

    cache_bits = 0
    cache = None
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("webp: bad color-cache size")
        cache = [0] * (1 << cache_bits)

    meta = None
    meta_bits = 0
    num_groups = 1
    if is_level0 and br.read_bit():
        meta_bits = br.read(3) + 2
        meta = _decode_image_stream(
            br,
            _subsample_size(xsize, meta_bits),
            _subsample_size(ysize, meta_bits),
            False,
        )[0]
        num_groups = (
            max(((p >> 8) & 0xFFFF) for p in meta) + 1 if meta else 1
        )

    green_size = _NUM_LITERAL + _NUM_LENGTH_CODES + (
        (1 << cache_bits) if cache_bits else 0
    )
    groups = []
    for _ in range(num_groups):
        groups.append(
            (
                _read_huffman_code(br, green_size),
                _read_huffman_code(br, _NUM_LITERAL),
                _read_huffman_code(br, _NUM_LITERAL),
                _read_huffman_code(br, _NUM_LITERAL),
                _read_huffman_code(br, _NUM_DISTANCE_CODES),
            )
        )

    n = xsize * ysize
    pixels: List[int] = [0] * n
    meta_w = _subsample_size(xsize, meta_bits) if meta else 0
    pos = 0
    x = 0
    y = 0

    def cache_insert(px: int) -> None:
        if cache is not None:
            key = ((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)
            cache[key] = px

    while pos < n:
        if meta is not None:
            mp = meta[(y >> meta_bits) * meta_w + (x >> meta_bits)]
            g = groups[(mp >> 8) & 0xFFFF]
        else:
            g = groups[0]
        s = g[0].decode(br)
        if s < _NUM_LITERAL:
            red = g[1].decode(br)
            blue = g[2].decode(br)
            alpha = g[3].decode(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            pixels[pos] = px
            cache_insert(px)
            pos += 1
            x += 1
            if x == xsize:
                x = 0
                y += 1
        elif s < _NUM_LITERAL + _NUM_LENGTH_CODES:
            length = _prefix_decode(s - _NUM_LITERAL, br)
            dist_code = _prefix_decode(g[4].decode(br), br)
            dist = _plane_to_distance(dist_code, xsize)
            if dist > pos or pos + length > n:
                raise ValueError("webp: invalid backward reference")
            for _ in range(length):
                px = pixels[pos - dist]
                pixels[pos] = px
                cache_insert(px)
                pos += 1
                x += 1
                if x == xsize:
                    x = 0
                    y += 1
        else:
            if cache is None:
                raise ValueError("webp: cache symbol without cache")
            idx = s - _NUM_LITERAL - _NUM_LENGTH_CODES
            pixels[pos] = cache[idx]
            pos += 1
            x += 1
            if x == xsize:
                x = 0
                y += 1
    return pixels, xsize, transforms


def _palette_pack_bits(n_colors: int) -> int:
    if n_colors <= 2:
        return 3  # 8 pixels per byte (1 bit each)
    if n_colors <= 4:
        return 2  # 4 pixels (2 bits)
    if n_colors <= 16:
        return 1  # 2 pixels (4 bits)
    return 0


# --------------------------------------------------- inverse transforms


def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) >> 1) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8
        | ((((a) & 0xFF) + ((b) & 0xFF)) >> 1)
    )


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= max(0, min(255, v)) << sh
    return out


def _clamp_add_sub_half(l: int, t: int, tl: int) -> int:
    ave = _avg2(l, t)
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        d = a - b
        half = d // 2 if d >= 0 else -((-d) // 2)  # C trunc-toward-zero
        out |= max(0, min(255, a + half)) << sh
    return out


def _select(t: int, l: int, tl: int) -> int:
    s = 0
    for sh in (24, 16, 8, 0):
        pb = ((l >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        pa = ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        s += abs(pb) - abs(pa)
    return t if s <= 0 else l


def _predict(mode: int, l: int, t: int, tl: int, tr: int) -> int:
    if mode == 0:
        return _ARGB_BLACK
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(t, l, tl)
    if mode == 12:
        return _clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _clamp_add_sub_half(l, t, tl)
    raise ValueError(f"webp: bad predictor mode {mode}")


def _add_pixels(residual: int, pred: int) -> int:
    return (
        ((((residual >> 24) + (pred >> 24)) & 0xFF) << 24)
        | ((((residual >> 16) + (pred >> 16)) & 0xFF) << 16)
        | ((((residual >> 8) + (pred >> 8)) & 0xFF) << 8)
        | (((residual + pred) & 0xFF))
    )


def _inverse_predictor(
    pixels: List[int], xsize: int, bits: int, sub: List[int]
) -> None:
    ysize = len(pixels) // xsize
    sub_w = _subsample_size(xsize, bits)
    for y in range(ysize):
        for x in range(xsize):
            pos = y * xsize + x
            if x == 0 and y == 0:
                pred = _ARGB_BLACK
            elif y == 0:
                pred = pixels[pos - 1]
            elif x == 0:
                pred = pixels[pos - xsize]
            else:
                mode = (sub[(y >> bits) * sub_w + (x >> bits)] >> 8) & 0xFF
                # linear-buffer TR: at x == xsize-1 this is the current
                # row's first pixel, libwebp's normative edge behavior
                pred = _predict(
                    mode,
                    pixels[pos - 1],
                    pixels[pos - xsize],
                    pixels[pos - xsize - 1],
                    pixels[pos - xsize + 1],
                )
            pixels[pos] = _add_pixels(pixels[pos], pred)


def _ct_delta(t: int, c: int) -> int:
    ts = t - 256 if t > 127 else t
    cs = c - 256 if c > 127 else c
    return (ts * cs) >> 5


def _inverse_color_transform(
    pixels: List[int], xsize: int, bits: int, sub: List[int]
) -> None:
    ysize = len(pixels) // xsize
    sub_w = _subsample_size(xsize, bits)
    for y in range(ysize):
        for x in range(xsize):
            pos = y * xsize + x
            cte = sub[(y >> bits) * sub_w + (x >> bits)]
            g2r = cte & 0xFF            # blue channel
            g2b = (cte >> 8) & 0xFF     # green channel
            r2b = (cte >> 16) & 0xFF    # red channel
            px = pixels[pos]
            green = (px >> 8) & 0xFF
            red = (px >> 16) & 0xFF
            blue = px & 0xFF
            red = (red + _ct_delta(g2r, green)) & 0xFF
            blue = (blue + _ct_delta(g2b, green) + _ct_delta(r2b, red)) & 0xFF
            pixels[pos] = (px & 0xFF00FF00) | (red << 16) | blue


def _inverse_subtract_green(pixels: List[int]) -> None:
    for i, px in enumerate(pixels):
        g = (px >> 8) & 0xFF
        r = (((px >> 16) & 0xFF) + g) & 0xFF
        b = ((px & 0xFF) + g) & 0xFF
        pixels[i] = (px & 0xFF00FF00) | (r << 16) | b


def _inverse_color_indexing(
    pixels: List[int],
    packed_xsize: int,
    final_xsize: int,
    palette: List[int],
    pack_bits: int,
) -> Tuple[List[int], int]:
    ysize = len(pixels) // packed_xsize
    if pack_bits == 0:
        out = []
        for px in pixels:
            idx = (px >> 8) & 0xFF
            out.append(palette[idx] if idx < len(palette) else 0)
        return out, packed_xsize
    per = 1 << pack_bits           # pixels bundled per green byte
    bitw = 8 >> pack_bits          # bits per pixel
    mask = (1 << bitw) - 1
    out = [0] * (final_xsize * ysize)
    for y in range(ysize):
        for xp in range(packed_xsize):
            bundle = (pixels[y * packed_xsize + xp] >> 8) & 0xFF
            for k in range(per):
                x = xp * per + k
                if x >= final_xsize:
                    break
                idx = (bundle >> (k * bitw)) & mask
                out[y * final_xsize + x] = (
                    palette[idx] if idx < len(palette) else 0
                )
    return out, final_xsize


# --------------------------------------------------------------- decode


def decode_vp8l(payload: bytes) -> Tuple[int, int, int, bytes]:
    """VP8L chunk payload → (width, height, channels, pixels).
    channels is 4 (RGBA) when any alpha < 255, else 3 (RGB)."""
    br = _BitReader(payload)
    if br.read(8) != VP8L_SIGNATURE:
        raise ValueError("webp: bad VP8L signature")
    width = br.read(14) + 1
    height = br.read(14) + 1
    br.read_bit()  # alpha-used hint (informational)
    if br.read(3) != 0:
        raise ValueError("webp: unknown VP8L version")
    pixels, cur_xsize, transforms = _decode_image_stream(
        br, width, height, True
    )
    for ttype, t_xsize, data in reversed(transforms):
        if ttype == 2:
            _inverse_subtract_green(pixels)
        elif ttype == 0:
            _inverse_predictor(pixels, cur_xsize, data[0], data[1])
        elif ttype == 1:
            _inverse_color_transform(pixels, cur_xsize, data[0], data[1])
        else:
            palette, pack_bits = data
            pixels, cur_xsize = _inverse_color_indexing(
                pixels, cur_xsize, t_xsize, palette, pack_bits
            )
    if cur_xsize != width or len(pixels) != width * height:
        raise ValueError("webp: decoded size mismatch")
    has_alpha = any((px >> 24) != 0xFF for px in pixels)
    out = bytearray()
    for px in pixels:
        out.append((px >> 16) & 0xFF)
        out.append((px >> 8) & 0xFF)
        out.append(px & 0xFF)
        if has_alpha:
            out.append((px >> 24) & 0xFF)
    return width, height, 4 if has_alpha else 3, bytes(out)


def decode_webp(data: bytes) -> Tuple[int, int, int, bytes]:
    """RIFF/WEBP container → (width, height, channels, pixels 8-bit
    interleaved).  Lossless (VP8L) only; lossy VP8 raises."""
    if data[:4] != RIFF_MAGIC or data[8:12] != WEBP_MAGIC:
        raise ValueError("webp: not a RIFF/WEBP container")
    off = 12
    while off + 8 <= len(data):
        fourcc = data[off:off + 4]
        (size,) = struct.unpack_from("<I", data, off + 4)
        body = data[off + 8:off + 8 + size]
        if fourcc == b"VP8L":
            return decode_vp8l(body)
        if fourcc == b"VP8 ":
            raise ValueError(
                "webp: lossy VP8 payload (DCT codec) not supported"
            )
        off += 8 + size + (size & 1)
    raise ValueError("webp: no VP8L chunk")


# --------------------------------------------------------------- encode


def _write_huffman_code(
    bw: _BitWriter,
    lengths: Dict[int, int],
    alphabet_size: int,
) -> Dict[int, Tuple[int, int]]:
    """Emit one prefix code; → {symbol: (code, length)} for writing.
    1-2 used symbols emit the simple form; otherwise lengths ship
    through a padded-to-power-of-two equal-length code-length code
    (complete by construction, ≤5 bits deep)."""
    used = sorted(lengths)
    # the simple form stores symbols in 8 (or 1) bits: usable only for
    # symbols < 256 (length/cache codes in the green alphabet are not)
    simple_ok = all(s < 256 for s in used)
    if len(used) == 1 and simple_ok:
        bw.write(1, 1)          # simple
        bw.write(0, 1)          # num_symbols - 1 = 0
        bw.write(1, 1)          # 8-bit first symbol
        bw.write(used[0], 8)
        return {used[0]: (0, 0)}
    if len(used) == 2 and simple_ok:
        bw.write(1, 1)
        bw.write(1, 1)          # two symbols
        bw.write(1, 1)
        bw.write(used[0], 8)
        bw.write(used[1], 8)
        return {used[0]: (0, 1), used[1]: (1, 1)}

    bw.write(0, 1)  # normal code
    full = [lengths.get(s, 0) for s in range(alphabet_size)]
    distinct = sorted(set(full))
    L = max(1, (len(distinct) - 1).bit_length())
    pad_pool = [v for v in range(19) if v not in distinct]
    cl_syms = distinct + pad_pool[: (1 << L) - len(distinct)]
    cl_lengths = [0] * 19
    for v in cl_syms:
        cl_lengths[v] = L
    bw.write(15, 4)  # num_length_codes = 19
    for i in range(19):
        bw.write(cl_lengths[_CODE_LENGTH_ORDER[i]], 3)
    bw.write(0, 1)  # no max-symbol shortcut
    cl_codes = {
        sym: (code, ln) for sym, code, ln in _canonical_codes(cl_lengths)
    }

    def put(sym_code: Tuple[int, int]) -> None:
        code, ln = sym_code
        for i in range(ln - 1, -1, -1):  # codes are walked MSB-first
            bw.write((code >> i) & 1, 1)

    for ln in full:
        put(cl_codes[ln])
    return {
        sym: (code, ln) for sym, code, ln in _canonical_codes(full)
    }


def _emit(bw: _BitWriter, codes: Dict[int, Tuple[int, int]], sym: int) -> None:
    code, ln = codes[sym]
    for i in range(ln - 1, -1, -1):
        bw.write((code >> i) & 1, 1)


def _encode_image_stream(
    bw: _BitWriter,
    pixels: List[int],
    xsize: int,
    use_rle: bool = False,
    cache_bits: int = 0,
    level0: bool = False,
    meta_bits: int = 0,
    meta_groups: int = 2,
) -> None:
    """One spec image stream (no transforms — the caller emits those):
    optional color cache, optional META prefix codes (level-0 only:
    ``meta_bits`` block size exponent, ``meta_groups`` code groups
    assigned checkerboard-style by block parity — every group's 5
    trees are fitted to ITS tokens, exercising the decoder's
    per-block group switching), 5 canonical trees per group, literal +
    optional greedy RLE (left-run distance 1, above-run distance
    xsize — both through the 2D distance map)."""
    n = len(pixels)
    use_meta = bool(level0 and meta_bits)
    bw.write(1 if cache_bits else 0, 1)
    cache = None
    if cache_bits:
        bw.write(cache_bits, 4)
        cache = [None] * (1 << cache_bits)

    def cache_key(px: int) -> int:
        return ((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)

    # ---- plan the token stream first (to collect code frequencies);
    # each token records its START pixel index (the decoder evaluates
    # the meta group once per SYMBOL, at the position it starts)
    tokens: List[Tuple] = []  # (kind, start_pos, ...) kinds lit/copy/cache
    pos = 0
    while pos < n:
        px = pixels[pos]
        if use_rle and pos > 0 and pixels[pos - 1] == px:
            run = 1
            while (
                pos + run < n and run < _MAX_COPY_LEN
                and pixels[pos + run] == px
            ):
                run += 1
            if run >= 3:
                tokens.append(("copy", pos, run, 1))
                if cache is not None:
                    cache[cache_key(px)] = px
                pos += run
                continue
        if use_rle and pos >= xsize and pixels[pos - xsize] == px:
            run = 0
            while (
                pos + run < n and run < _MAX_COPY_LEN
                and pixels[pos + run] == pixels[pos + run - xsize]
            ):
                run += 1
            if run >= 3:
                for k in range(run):
                    if cache is not None:
                        cache[cache_key(pixels[pos + k])] = pixels[pos + k]
                tokens.append(("copy", pos, run, xsize))
                pos += run
                continue
        if cache is not None and cache[cache_key(px)] == px:
            tokens.append(("cache", pos, cache_key(px)))
            pos += 1
            continue
        tokens.append(("lit", pos, px))
        if cache is not None:
            cache[cache_key(px)] = px
        pos += 1

    n_groups = meta_groups if use_meta else 1

    def group_of(p: int) -> int:
        if not use_meta:
            return 0
        bx = (p % xsize) >> meta_bits
        by = (p // xsize) >> meta_bits
        return (bx + by) % n_groups

    # ---- per-group frequencies
    g_f = [dict() for _ in range(n_groups)]
    r_f = [dict() for _ in range(n_groups)]
    b_f = [dict() for _ in range(n_groups)]
    a_f = [dict() for _ in range(n_groups)]
    d_f = [dict() for _ in range(n_groups)]

    def bump(d: Dict[int, int], k: int) -> None:
        d[k] = d.get(k, 0) + 1

    def dist_to_code(dist: int) -> Tuple[int, int, int]:
        for i, (dx, dy) in enumerate(_DISTANCE_MAP):
            if max(1, dy * xsize + dx) == dist and (dy or dx > 0):
                return _prefix_encode(i + 1)
        return _prefix_encode(dist + 120)

    for t in tokens:
        gi = group_of(t[1])
        if t[0] == "lit":
            px = t[2]
            bump(g_f[gi], (px >> 8) & 0xFF)
            bump(r_f[gi], (px >> 16) & 0xFF)
            bump(b_f[gi], px & 0xFF)
            bump(a_f[gi], (px >> 24) & 0xFF)
        elif t[0] == "copy":
            code, _, _ = _prefix_encode(t[2])
            bump(g_f[gi], 256 + code)
            dcode, _, _ = dist_to_code(t[3])
            bump(d_f[gi], dcode)
        else:
            bump(g_f[gi], 256 + 24 + t[2])

    for gi in range(n_groups):
        for d in (g_f[gi], r_f[gi], b_f[gi], a_f[gi], d_f[gi]):
            if not d:
                d[0] = 1  # unused tree still needs a valid code

    if level0:
        if use_meta:
            bw.write(1, 1)
            bw.write(meta_bits - 2, 3)
            sub_w = _subsample_size(xsize, meta_bits)
            sub_h = _subsample_size(n // xsize, meta_bits)
            meta_img = [
                0xFF000000 | ((((bx + by) % n_groups) & 0xFF) << 8)
                for by in range(sub_h)
                for bx in range(sub_w)
            ]
            _encode_image_stream(bw, meta_img, sub_w)
        else:
            bw.write(0, 1)  # no meta codes
    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    codes = []
    for gi in range(n_groups):
        codes.append(
            (
                _write_huffman_for(bw, g_f[gi], green_size),
                _write_huffman_for(bw, r_f[gi], 256),
                _write_huffman_for(bw, b_f[gi], 256),
                _write_huffman_for(bw, a_f[gi], 256),
                _write_huffman_for(bw, d_f[gi], 40),
            )
        )

    for t in tokens:
        g_c, r_c, b_c, a_c, d_c = codes[group_of(t[1])]
        if t[0] == "lit":
            px = t[2]
            _emit(bw, g_c, (px >> 8) & 0xFF)
            _emit(bw, r_c, (px >> 16) & 0xFF)
            _emit(bw, b_c, px & 0xFF)
            _emit(bw, a_c, (px >> 24) & 0xFF)
        elif t[0] == "copy":
            code, extra, nbits = _prefix_encode(t[2])
            _emit(bw, g_c, 256 + code)
            if nbits:
                bw.write(extra, nbits)
            dcode, dextra, dnbits = dist_to_code(t[3])
            _emit(bw, d_c, dcode)
            if dnbits:
                bw.write(dextra, dnbits)
        else:
            _emit(bw, g_c, 256 + 24 + t[2])


def _write_huffman_for(
    bw: _BitWriter, freqs: Dict[int, int], alphabet: int
) -> Dict[int, Tuple[int, int]]:
    if len(freqs) <= 2:
        if all(s < 256 for s in freqs):
            return _write_huffman_code(bw, {s: 1 for s in freqs}, alphabet)
        # normal form needs a complete code: give both (or a dummy
        # second) symbol length 1
        lens = {s: 1 for s in freqs}
        if len(lens) == 1:
            (only,) = lens
            lens[0 if only != 0 else 1] = 1
        return _write_huffman_code(bw, lens, alphabet)
    lengths = _huffman_lengths(freqs)
    return _write_huffman_code(bw, lengths, alphabet)


def encode_webp_lossless(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    use_rle: bool = False,
    cache_bits: int = 0,
    meta_bits: int = 0,
    meta_groups: int = 2,
    subtract_green: bool = False,
    predictor_bits: int = 0,
    predictor_modes: Optional[List[int]] = None,
    color_bits: int = 0,
    color_elements: Optional[List[int]] = None,
    palette: bool = False,
) -> bytes:
    """Encode 8-bit interleaved RGB(A) pixels as a lossless WebP.

    The optional arguments switch on real bitstream features so the
    decoder's every inverse path has a constructive round-trip:
    ``use_rle`` (mapped LZ77 distances), ``cache_bits`` (color cache),
    ``meta_bits``/``meta_groups`` (meta prefix codes: checkerboard
    per-block code groups),
    ``subtract_green``, ``predictor_bits`` (+ per-block modes,
    default cycling all 14), ``color_bits`` (+ per-block cross-color
    elements), ``palette`` (color indexing, bundled when ≤16 colors).
    Transforms compose in the argument order palette → subtract-green
    → color → predictor (inverse order on decode)."""
    if channels not in (3, 4):
        raise ValueError("webp encoder: channels must be 3 or 4")
    argb: List[int] = []
    for i in range(width * height):
        r = pixels[i * channels]
        g = pixels[i * channels + 1]
        b = pixels[i * channels + 2]
        a = pixels[i * channels + 3] if channels == 4 else 0xFF
        argb.append((a << 24) | (r << 16) | (g << 8) | b)

    bw = _BitWriter()
    bw.write(VP8L_SIGNATURE, 8)
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(1 if channels == 4 else 0, 1)
    bw.write(0, 3)

    xsize = width
    sub_streams: List[Tuple[List[int], int]] = []

    if palette:
        colors = []
        seen = {}
        for px in argb:
            if px not in seen:
                seen[px] = len(colors)
                colors.append(px)
        if len(colors) > 256:
            raise ValueError("webp encoder: >256 colors for palette")
        bw.write(1, 1)
        bw.write(3, 2)
        bw.write(len(colors) - 1, 8)
        deltas = []
        prev = 0
        for c in colors:
            deltas.append(
                (((c >> 24) - (prev >> 24)) & 0xFF) << 24
                | (((c >> 16) - (prev >> 16)) & 0xFF) << 16
                | (((c >> 8) - (prev >> 8)) & 0xFF) << 8
                | ((c - prev) & 0xFF)
            )
            prev = c
        _encode_image_stream(bw, deltas, len(colors))
        pack_bits = _palette_pack_bits(len(colors))
        indices = [seen[px] for px in argb]
        if pack_bits:
            per = 1 << pack_bits
            bitw = 8 >> pack_bits
            packed_w = _subsample_size(width, pack_bits)
            packed = []
            for y in range(height):
                for xp in range(packed_w):
                    bundle = 0
                    for k in range(per):
                        x = xp * per + k
                        if x < width:
                            bundle |= indices[y * width + x] << (k * bitw)
                    packed.append(0xFF000000 | (bundle << 8))
            argb = packed
            xsize = packed_w
        else:
            argb = [0xFF000000 | (idx << 8) for idx in indices]

    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
        argb = [
            (px & 0xFF00FF00)
            | ((((px >> 16) - (px >> 8)) & 0xFF) << 16)
            | ((px - (px >> 8)) & 0xFF)
            for px in argb
        ]

    if color_bits:
        bw.write(1, 1)
        bw.write(1, 2)
        bw.write(color_bits - 2, 3)
        sub_w = _subsample_size(xsize, color_bits)
        sub_h = _subsample_size(len(argb) // xsize, color_bits)
        if color_elements is None:
            color_elements = [
                0xFF000000
                | (((7 * i + 3) % 256) << 16)
                | (((11 * i + 5) % 256) << 8)
                | ((13 * i + 1) % 256)
                for i in range(sub_w * sub_h)
            ]
        _encode_image_stream(bw, color_elements, sub_w)
        out = list(argb)
        ysize = len(argb) // xsize
        for y in range(ysize):
            for x in range(xsize):
                pos = y * xsize + x
                cte = color_elements[(y >> color_bits) * sub_w + (x >> color_bits)]
                g2r = cte & 0xFF
                g2b = (cte >> 8) & 0xFF
                r2b = (cte >> 16) & 0xFF
                px = argb[pos]
                green = (px >> 8) & 0xFF
                red = (px >> 16) & 0xFF
                blue = px & 0xFF
                new_red = (red - _ct_delta(g2r, green)) & 0xFF
                new_blue = (
                    blue - _ct_delta(g2b, green) - _ct_delta(r2b, red)
                ) & 0xFF
                out[pos] = (px & 0xFF00FF00) | (new_red << 16) | new_blue
        argb = out

    if predictor_bits:
        bw.write(1, 1)
        bw.write(0, 2)
        bw.write(predictor_bits - 2, 3)
        ysize = len(argb) // xsize
        sub_w = _subsample_size(xsize, predictor_bits)
        sub_h = _subsample_size(ysize, predictor_bits)
        if predictor_modes is None:
            predictor_modes = [i % 14 for i in range(sub_w * sub_h)]
        mode_img = [
            0xFF000000 | (m << 8) for m in predictor_modes
        ]
        _encode_image_stream(bw, mode_img, sub_w)
        res = [0] * len(argb)
        for y in range(ysize):
            for x in range(xsize):
                pos = y * xsize + x
                if x == 0 and y == 0:
                    pred = _ARGB_BLACK
                elif y == 0:
                    pred = argb[pos - 1]
                elif x == 0:
                    pred = argb[pos - xsize]
                else:
                    mode = predictor_modes[
                        (y >> predictor_bits) * sub_w + (x >> predictor_bits)
                    ]
                    pred = _predict(
                        mode,
                        argb[pos - 1],
                        argb[pos - xsize],
                        argb[pos - xsize - 1],
                        argb[pos - xsize + 1],
                    )
                res[pos] = (
                    (((argb[pos] >> 24) - (pred >> 24)) & 0xFF) << 24
                    | (((argb[pos] >> 16) - (pred >> 16)) & 0xFF) << 16
                    | (((argb[pos] >> 8) - (pred >> 8)) & 0xFF) << 8
                    | ((argb[pos] - pred) & 0xFF)
                )
        argb = res

    bw.write(0, 1)  # end of transforms
    _encode_image_stream(
        bw, argb, xsize, use_rle=use_rle, cache_bits=cache_bits,
        level0=True, meta_bits=meta_bits, meta_groups=meta_groups,
    )
    payload = bw.finish()

    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = RIFF_MAGIC + struct.pack("<I", 4 + len(chunk)) + WEBP_MAGIC + chunk
    return riff
