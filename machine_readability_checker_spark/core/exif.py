"""EXIF metadata: parse, build, and strip — pure stdlib.

Training-data curation needs this twice over: EXIF carries PII (GPS
position, camera serial, timestamps) that must be scrubbed before
images enter a corpus, and it carries the orientation tag a correct
decode pipeline must honor.  Format per the public EXIF 2.3 / TIFF 6.0
specs: a JPEG APP1 segment holding ``Exif\\0\\0`` + a TIFF byte stream
(II/MM byte order, IFD0 → Exif IFD / GPS IFD chains).

Defensive by construction: every offset is bounds-checked and a
malformed blob raises ``ValueError`` (the Spark kernels catch and
quarantine — metadata on the wire is attacker-controlled).  The writer
exists for fixtures and round-trip tests, like every other codec here.

No analog in the reference repo (``/root/reference`` has no media
path); this extends the multimodal family.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Optional, Tuple

from .png import PNG_SIG

# IFD0 / Exif tags
TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_ORIENTATION = 0x0112
TAG_DATETIME = 0x0132
TAG_EXIF_IFD = 0x8769
TAG_GPS_IFD = 0x8825
# GPS IFD tags
TAG_GPS_LAT_REF = 0x0001
TAG_GPS_LAT = 0x0002
TAG_GPS_LON_REF = 0x0003
TAG_GPS_LON = 0x0004

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}

#: metadata segments removed by ``strip_jpeg_metadata``: APP1 (EXIF/XMP),
#: APP2 (ICC left intact would be defensible, but a scrub scrubs),
#: APP13 (Photoshop IRB/IPTC), COM (free-text comments).
_STRIP_MARKERS = frozenset({0xE1, 0xE2, 0xED, 0xFE})


def iter_jpeg_segments(data: bytes) -> List[Tuple[int, int, int]]:
    """``(marker, seg_start, seg_end)`` for every marker segment from
    SOI up to and including SOS; entropy-coded data follows the SOS
    entry and is not walked."""
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    out: List[Tuple[int, int, int]] = []
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI with no SOS (no image data)
            break
        (ln,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if ln < 2 or pos + 2 + ln > len(data):
            raise ValueError(f"segment overruns buffer at {pos}")
        out.append((marker, pos, pos + 2 + ln))
        pos += 2 + ln
        if marker == 0xDA:  # SOS — entropy data follows
            break
    return out


def _read_ifd(
    tiff: bytes, off: int, fmt: str
) -> Dict[int, Tuple[int, int, bytes]]:
    """IFD at ``off`` → {tag: (type, count, value_bytes)} with offsets
    resolved."""
    if off + 2 > len(tiff):
        raise ValueError("IFD offset out of range")
    (n,) = struct.unpack(fmt + "H", tiff[off : off + 2])
    entries: Dict[int, Tuple[int, int, bytes]] = {}
    for i in range(n):
        e = off + 2 + 12 * i
        if e + 12 > len(tiff):
            raise ValueError("IFD entry out of range")
        tag, typ, cnt = struct.unpack(fmt + "HHL", tiff[e : e + 8])
        size = _TYPE_SIZES.get(typ, 1) * cnt
        if size <= 4:
            val = tiff[e + 8 : e + 8 + size]
        else:
            (voff,) = struct.unpack(fmt + "L", tiff[e + 8 : e + 12])
            if voff + size > len(tiff):
                raise ValueError("IFD value out of range")
            val = tiff[voff : voff + size]
        entries[tag] = (typ, cnt, val)
    return entries


def _ascii(v: Optional[Tuple[int, int, bytes]]) -> Optional[str]:
    if v is None:
        return None
    return v[2].split(b"\x00", 1)[0].decode("ascii", "replace")


def _short(v: Optional[Tuple[int, int, bytes]], fmt: str) -> Optional[int]:
    if v is None or len(v[2]) < 2:
        return None
    return struct.unpack(fmt + "H", v[2][:2])[0]


def _rationals(
    v: Optional[Tuple[int, int, bytes]], fmt: str
) -> Optional[List[float]]:
    if v is None:
        return None
    out = []
    for i in range(v[1]):
        num, den = struct.unpack(fmt + "LL", v[2][8 * i : 8 * i + 8])
        out.append(num / den if den else 0.0)
    return out


def _dms_to_deg(dms: List[float], ref: Optional[str]) -> Optional[float]:
    if not dms:
        return None
    deg = dms[0] + (dms[1] if len(dms) > 1 else 0.0) / 60.0
    deg += (dms[2] if len(dms) > 2 else 0.0) / 3600.0
    if ref in ("S", "W"):
        deg = -deg
    return deg


def parse_exif(data: bytes) -> Optional[Dict[str, object]]:
    """EXIF summary of a JPEG, or ``None`` when no APP1/Exif segment
    exists: ``{make, model, orientation, datetime, has_gps, gps_lat,
    gps_lon}``.  Raises ``ValueError`` on a structurally broken blob."""
    app1 = None
    for marker, s, e in iter_jpeg_segments(data):
        if marker == 0xE1 and data[s + 4 : s + 10] == b"Exif\x00\x00":
            app1 = data[s + 10 : e]
            break
    if app1 is None:
        return None
    if len(app1) < 8:
        raise ValueError("truncated TIFF header")
    order = app1[0:2]
    if order == b"II":
        fmt = "<"
    elif order == b"MM":
        fmt = ">"
    else:
        raise ValueError("bad TIFF byte order")
    magic, ifd0_off = struct.unpack(fmt + "HL", app1[2:8])
    if magic != 42:
        raise ValueError("bad TIFF magic")
    ifd0 = _read_ifd(app1, ifd0_off, fmt)
    out: Dict[str, object] = {
        "make": _ascii(ifd0.get(TAG_MAKE)),
        "model": _ascii(ifd0.get(TAG_MODEL)),
        "orientation": _short(ifd0.get(TAG_ORIENTATION), fmt),
        "datetime": _ascii(ifd0.get(TAG_DATETIME)),
        "has_gps": False,
        "gps_lat": None,
        "gps_lon": None,
    }
    gps_ptr = ifd0.get(TAG_GPS_IFD)
    if gps_ptr is not None:
        (gps_off,) = struct.unpack(fmt + "L", gps_ptr[2][:4])
        gps = _read_ifd(app1, gps_off, fmt)
        lat = _dms_to_deg(
            _rationals(gps.get(TAG_GPS_LAT), fmt) or [],
            _ascii(gps.get(TAG_GPS_LAT_REF)),
        )
        lon = _dms_to_deg(
            _rationals(gps.get(TAG_GPS_LON), fmt) or [],
            _ascii(gps.get(TAG_GPS_LON_REF)),
        )
        out["has_gps"] = lat is not None or lon is not None
        out["gps_lat"] = lat
        out["gps_lon"] = lon
    return out


def strip_jpeg_metadata(data: bytes) -> bytes:
    """The same JPEG with APP1/APP2/APP13/COM segments removed — the
    entropy-coded image data is byte-identical, so pixels survive
    untouched (round-trip pinned in tests)."""
    segs = iter_jpeg_segments(data)
    out = bytearray(b"\xff\xd8")
    tail_from = None
    for marker, s, e in segs:
        if marker in _STRIP_MARKERS:
            continue
        out += data[s:e]
        if marker == 0xDA:
            tail_from = e
    if tail_from is not None:
        out += data[tail_from:]
    return bytes(out)


#: PNG ancillary chunks that carry metadata rather than pixels: text
#: records (tEXt/zTXt/iTXt), the embedded EXIF blob (eXIf, PNG 1.5),
#: and the modification timestamp (tIME).
_PNG_META_CHUNKS = frozenset({b"tEXt", b"zTXt", b"iTXt", b"eXIf", b"tIME"})


def strip_png_metadata(data: bytes) -> bytes:
    """The same PNG with metadata chunks (tEXt/zTXt/iTXt/eXIf/tIME)
    removed — IDAT and every structural chunk are byte-identical, so
    pixels survive untouched."""
    if not data.startswith(PNG_SIG):
        raise ValueError("not a PNG")
    out = bytearray(PNG_SIG)
    pos = len(PNG_SIG)
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">L", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        end = pos + 12 + ln
        if end > len(data):
            raise ValueError(f"chunk overruns buffer at {pos}")
        if typ not in _PNG_META_CHUNKS:
            out += data[pos:end]
        pos = end
        if typ == b"IEND":
            break
    return bytes(out)


# ------------------------------------------------------------ writer


def _ifd_bytes(
    entries: List[Tuple[int, int, bytes]], base_off: int, fmt: str
) -> bytes:
    """Serialize IFD entries (tag, type, raw value bytes per count
    rules), placing >4-byte values after the entry table."""
    n = len(entries)
    table = struct.pack(fmt + "H", n)
    heap = b""
    heap_off = base_off + 2 + 12 * n + 4
    for tag, typ, val in entries:
        cnt = len(val) // _TYPE_SIZES[typ]
        head = struct.pack(fmt + "HHL", tag, typ, cnt)
        if len(val) <= 4:
            table += head + val.ljust(4, b"\x00")
        else:
            table += head + struct.pack(fmt + "L", heap_off + len(heap))
            heap += val
    return table + struct.pack(fmt + "L", 0) + heap


def build_exif_app1(
    make: str = "",
    model: str = "",
    orientation: int = 1,
    datetime: str = "",
    gps: Optional[Tuple[float, float]] = None,
    byte_order: str = "II",
) -> bytes:
    """An ``Exif\\0\\0`` APP1 payload (fixture writer).  ``gps`` is
    (lat, lon) in decimal degrees, encoded as D/M/S rationals."""
    fmt = "<" if byte_order == "II" else ">"

    def asciiz(s: str) -> bytes:
        return s.encode("ascii") + b"\x00"

    def dms(deg: float) -> bytes:
        a = abs(deg)
        d = int(a)
        m = int((a - d) * 60)
        s = round(((a - d) * 60 - m) * 60 * 10000)
        return struct.pack(fmt + "LLLLLL", d, 1, m, 1, s, 10000)

    ifd0: List[Tuple[int, int, bytes]] = []
    if make:
        ifd0.append((TAG_MAKE, 2, asciiz(make)))
    if model:
        ifd0.append((TAG_MODEL, 2, asciiz(model)))
    ifd0.append((TAG_ORIENTATION, 3, struct.pack(fmt + "H", orientation)))
    if datetime:
        ifd0.append((TAG_DATETIME, 2, asciiz(datetime)))

    tiff = struct.pack(fmt + "2sHL", byte_order.encode(), 42, 8)
    if gps is not None:
        lat, lon = gps
        # IFD0 gains the GPS pointer; GPS IFD follows IFD0
        ifd0_probe = ifd0 + [(TAG_GPS_IFD, 4, struct.pack(fmt + "L", 0))]
        ifd0_len = len(_ifd_bytes(ifd0_probe, 8, fmt))
        gps_off = 8 + ifd0_len
        ifd0.append((TAG_GPS_IFD, 4, struct.pack(fmt + "L", gps_off)))
        gps_entries = [
            (TAG_GPS_LAT_REF, 2, asciiz("N" if lat >= 0 else "S")),
            (TAG_GPS_LAT, 5, dms(lat)),
            (TAG_GPS_LON_REF, 2, asciiz("E" if lon >= 0 else "W")),
            (TAG_GPS_LON, 5, dms(lon)),
        ]
        tiff += _ifd_bytes(ifd0, 8, fmt)
        tiff += _ifd_bytes(gps_entries, gps_off, fmt)
    else:
        tiff += _ifd_bytes(ifd0, 8, fmt)
    return b"Exif\x00\x00" + tiff


def insert_app1(jpeg: bytes, app1_payload: bytes) -> bytes:
    """JPEG with the APP1 segment inserted right after SOI (before any
    existing APP0) — the layout real cameras write."""
    if jpeg[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    seg = b"\xff\xe1" + struct.pack(">H", len(app1_payload) + 2) + app1_payload
    return jpeg[:2] + seg + jpeg[2:]
