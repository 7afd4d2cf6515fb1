"""Pure-stdlib PNG codec (RFC 2083): the real image decode path behind
``operators.multimodal.decode_image``.

The container ships no PIL/libvips/ffmpeg, so this implements the subset
of PNG a training-data pipeline actually meets in the wild for 8-bit
stills: color types 0 (gray), 2 (RGB), 3 (palette→RGB), 4 (gray+alpha),
6 (RGBA), all five scanline filters, chunk CRC validation.  Unsupported
shapes (16-bit, sub-byte depths, Adam7 interlace) raise ``ValueError``
with a precise message — the Arrow kernels convert that into a
quarantine row, never a task failure.

Reference parity note: the reference checker treats embedded media as
opaque objects to flag (src/processor/checker/level1_checker.py — the
L1-10 image/object scan); decoding is this repo's training-pipeline
extension, so there is no reference behavior to mirror beyond "bad
bytes must not kill the job".

Kept dependency-free and byte-loop simple on purpose: this is the
correctness kernel.  At 100 TB the hot path would swap the unfilter
loop for numpy (Up/Average vectorize wholesale; Sub/Paeth vectorize
per-column) without touching the chunk layer or the callers.
"""

from __future__ import annotations

import struct
import zlib
from typing import List, Tuple

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type → samples per pixel (before palette expansion)
_CTYPE_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_CHANNELS_CTYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa = abs(p - a)
    pb = abs(p - b)
    pc = abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _chunks(data: bytes):
    """Yield (type, payload) for every chunk, validating lengths + CRC."""
    off = len(PNG_SIG)
    while off < len(data):
        if off + 8 > len(data):
            raise ValueError("truncated chunk header")
        (ln,) = struct.unpack_from(">I", data, off)
        typ = data[off + 4 : off + 8]
        off += 8
        if off + ln + 4 > len(data):
            raise ValueError(f"truncated {typ.decode('latin1')} chunk")
        payload = data[off : off + ln]
        (crc,) = struct.unpack_from(">I", data, off + ln)
        if zlib.crc32(typ + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {typ.decode('latin1')} chunk")
        off += ln + 4
        yield typ, payload
        if typ == b"IEND":
            return
    raise ValueError("missing IEND chunk")


def decode_png(data: bytes) -> Tuple[int, int, int, bytes]:
    """→ (width, height, channels, pixels) with pixels row-major,
    ``channels`` interleaved, 8 bits per sample.  Palette images are
    expanded to RGB (channels=3)."""
    if not data.startswith(PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    ihdr = None
    plte = None
    idat: List[bytes] = []
    for typ, payload in _chunks(data):
        if typ == b"IHDR":
            ihdr = payload
        elif typ == b"PLTE":
            plte = payload
        elif typ == b"IDAT":
            idat.append(payload)
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("missing or malformed IHDR")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if w <= 0 or h <= 0:
        raise ValueError("zero-sized image")
    if comp != 0 or filt != 0:
        raise ValueError("unsupported compression/filter method")
    if interlace != 0:
        raise ValueError("Adam7 interlace unsupported")
    if depth != 8:
        raise ValueError(f"unsupported bit depth {depth} (8-bit only)")
    channels = _CTYPE_CHANNELS.get(ctype)
    if channels is None:
        raise ValueError(f"unknown color type {ctype}")
    if not idat:
        raise ValueError("missing IDAT")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt IDAT stream: {e}")
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"IDAT inflates to {len(raw)} bytes, expected {h * (stride + 1)}"
        )

    out = bytearray(h * stride)
    bpp = channels  # bytes per pixel at depth 8
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = bytearray(
            raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        )
        o = y * stride
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            if y:
                for x in range(stride):
                    line[x] = (line[x] + out[o - stride + x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = out[o - stride + x] if y else 0
                line[x] = (line[x] + (a + b) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = out[o - stride + x] if y else 0
                c = out[o - stride + x - bpp] if (y and x >= bpp) else 0
                line[x] = (line[x] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ftype} on row {y}")
        out[o : o + stride] = line

    if ctype == 3:  # expand palette to RGB
        if plte is None or len(plte) % 3:
            raise ValueError("palette image without valid PLTE")
        n_entries = len(plte) // 3
        rgb = bytearray(w * h * 3)
        for i, idx in enumerate(out):
            if idx >= n_entries:
                raise ValueError(f"palette index {idx} out of range")
            rgb[i * 3 : i * 3 + 3] = plte[idx * 3 : idx * 3 + 3]
        return w, h, 3, bytes(rgb)
    return w, h, channels, bytes(out)


def encode_png(w: int, h: int, channels: int, pixels: bytes) -> bytes:
    """Minimal encoder: filter 0 scanlines, one zlib stream.  Inverse of
    ``decode_png`` for channels in {1, 2, 3, 4} (never emits palette)."""
    ctype = _CHANNELS_CTYPE.get(channels)
    if ctype is None:
        raise ValueError(f"channels must be 1..4, got {channels}")
    stride = w * channels
    if len(pixels) != h * stride:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, expected {h * stride}"
        )

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(h)
    )
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )
