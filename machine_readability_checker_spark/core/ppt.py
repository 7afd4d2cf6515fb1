"""Legacy PowerPoint 97–2003 binary ``.ppt`` lane (MS-PPT, stdlib-only).

Completes the legacy-Office trio next to ``core/xls.py`` (BIFF8) and
``core/doc.py`` (MS-DOC): a ``.ppt`` is a CFB container whose
``PowerPoint Document`` stream is a tree of length-prefixed records
([MS-PPT] §2.3 RecordHeader: ``recVerAndInstance`` u16 — low 4 bits
``recVer``, 0xF marks a container — ``recType`` u16, ``recLen`` u32).
Presentation text lives in (TextHeaderAtom → TextCharsAtom |
TextBytesAtom) pairs inside the ``SlideListWithText`` container (the
layout every production text extractor reads): the header atom's
``textType`` says what the following text IS ([MS-PPT] TxLbTypeEnum:
0 title, 1 body, 2 notes, 4 other, 5 center body, 6 center title),
TextCharsAtom is UTF-16LE, TextBytesAtom one byte per char (the low
bytes of UTF-16, decoded cp1252 like the .doc compressed pieces).

Span mapping mirrors the PPTX lane:

- first title-typed text → ``title``, later titles → ``heading``
- body/other/center-body → ``main``/``boilerplate`` by the shared
  length threshold (paragraphs split on the embedded CR the format
  uses as the paragraph separator)
- notes text → ``boilerplate``
- ``ExOleObjStg``/picture containers are not decoded (slide media in
  real decks lives in the separate ``Pictures`` stream); a
  ``RT_Picture``-bearing deck still extracts its text

Robustness contract matches every other parser: malformed bytes →
``parse_error`` quarantine, never a raise; the record walk is
length-bounded (a lying recLen clamps at the parent's end, and depth
is capped) so hostile bytes cannot loop or recurse unboundedly.  Like
the xls/doc lanes there is no .ppt reader library in this container to
cross-validate against; correctness rests on spec-cited record-layout
pins plus the independent fixture writer.
"""

from __future__ import annotations

import struct
from typing import List, Optional, Tuple

from .cfb import read_stream, write_streams

MIN_CONTENT_CHARS = 25  # shared with the HTML/DOCX block classifier
MAX_DEPTH = 32

RT_DOCUMENT = 1000          # 0x03E8 DocumentContainer
RT_SLIDE_LIST_WITH_TEXT = 4080  # 0x0FF0
RT_TEXT_HEADER_ATOM = 3999  # 0x0F9F
RT_TEXT_CHARS_ATOM = 4000   # 0x0FA0 (UTF-16LE)
RT_TEXT_BYTES_ATOM = 4008   # 0x0FA8 (bytes, cp1252)

TT_TITLE = 0
TT_BODY = 1
TT_NOTES = 2
TT_OTHER = 4
TT_CENTER_BODY = 5
TT_CENTER_TITLE = 6

Span = Tuple[str, str, str]


def _walk(data: bytes, start: int, end: int, depth: int,
          out: List[Tuple[int, bytes]]) -> None:
    """Flatten (recType, payload) atoms in document order; containers
    (recVer == 0xF) recurse."""
    pos = start
    while pos + 8 <= end and depth < MAX_DEPTH:
        ver_inst, rec_type, rec_len = struct.unpack_from("<HHI", data, pos)
        body_start = pos + 8
        body_end = min(body_start + rec_len, end)  # lying recLen clamps
        if (ver_inst & 0x000F) == 0x000F:
            _walk(data, body_start, body_end, depth + 1, out)
        else:
            out.append((rec_type, data[body_start:body_end]))
        pos = body_end


def extract_ppt_spans(content: bytes) -> Tuple[List[Span], Optional[str]]:
    try:
        stream = read_stream(content, "PowerPoint Document")
        if stream is None:
            return [], "ppt parse failed: no PowerPoint Document stream"
        atoms: List[Tuple[int, bytes]] = []
        _walk(stream, 0, len(stream), 0, atoms)
        if not atoms:
            return [], "ppt parse failed: no records"

        spans: List[Span] = []
        text_type: Optional[int] = None
        saw_title = False
        saw_text = False
        for rec_type, body in atoms:
            if rec_type == RT_TEXT_HEADER_ATOM:
                text_type = (
                    struct.unpack_from("<I", body, 0)[0]
                    if len(body) >= 4 else None
                )
                continue
            if rec_type == RT_TEXT_CHARS_ATOM:
                text = body.decode("utf-16le", "replace")
            elif rec_type == RT_TEXT_BYTES_ATOM:
                text = body.decode("cp1252", "replace")
            else:
                continue
            saw_text = True
            # CR is the paragraph separator; VT a soft line break
            for para in text.replace("\x0b", " ").split("\r"):
                para = " ".join(para.split())
                if not para:
                    continue
                if text_type in (TT_TITLE, TT_CENTER_TITLE):
                    spans.append(
                        ("heading" if saw_title else "title", para, "")
                    )
                    saw_title = True
                elif text_type == TT_NOTES:
                    spans.append(("boilerplate", para, ""))
                elif len(para) >= MIN_CONTENT_CHARS:
                    spans.append(("main", para, ""))
                else:
                    spans.append(("boilerplate", para, ""))
        if not saw_text and not spans:
            return [], "ppt parse failed: no text records"
        return spans, None
    except Exception as e:  # malformed container → quarantine
        return [], f"ppt parse failed: {e}"


# ------------------------------------------------------------- fixtures


def _rec(rec_type: int, payload: bytes, ver: int = 0,
         instance: int = 0) -> bytes:
    return struct.pack(
        "<HHI", (instance << 4) | (ver & 0xF), rec_type, len(payload)
    ) + payload


def _container(rec_type: int, children: bytes, instance: int = 0) -> bytes:
    return _rec(rec_type, children, ver=0xF, instance=instance)


def write_ppt(slides: List[List[Tuple[str, str]]]) -> bytes:
    """Serialize slides to .ppt bytes.  Each slide is a list of
    (kind, text) where kind ∈ title/body/notes/other; text items with
    any char > U+00FF become TextCharsAtoms (UTF-16LE), pure-latin
    text a TextBytesAtom — exercising both decode paths like real
    decks do.  Paragraphs inside one item join with CR."""
    tt = {"title": TT_TITLE, "body": TT_BODY, "notes": TT_NOTES,
          "other": TT_OTHER}
    slwt: List[bytes] = []
    for slide in slides:
        for kind, text in slide:
            slwt.append(
                _rec(RT_TEXT_HEADER_ATOM, struct.pack("<I", tt[kind]))
            )
            try:
                raw = text.encode("cp1252")
                slwt.append(_rec(RT_TEXT_BYTES_ATOM, raw))
            except UnicodeEncodeError:
                slwt.append(
                    _rec(RT_TEXT_CHARS_ATOM, text.encode("utf-16le"))
                )
    document = _container(
        RT_DOCUMENT,
        _container(RT_SLIDE_LIST_WITH_TEXT, b"".join(slwt)),
    )
    return write_streams({"PowerPoint Document": document})
