"""Legacy Word 97–2003 binary ``.doc`` lane (MS-DOC spec, stdlib-only).

Completes the legacy-Office trio next to the BIFF8 ``.xls`` lane
(``core/xls.py``): a ``.doc`` is a CFB container (``core/cfb.py``)
whose ``WordDocument`` stream opens with the FIB; the character stream
is located through the piece table (CLX → PlcPcd) stored in the
``0Table``/``1Table`` stream (picked by FIB ``fWhichTblStm``), with
each piece either 8-bit "compressed" cp1252 or UTF-16LE; paragraph
properties (in-table flag, table-row terminator, style index) come
from the PlcfBtePapx → PapxFkp pages interleaved in the WordDocument
stream.  All structure offsets follow the published [MS-DOC] layout
for nFib ≥ 0x00C1: FibRgLw97 ``ccpText/ccpFtn/ccpHdd`` at stream
offsets 0x4C/0x50/0x54, FibRgFcLcb97 entry *i* at 0x9A + 8·i
(fcPlcfBtePapx = entry 13 → 0x102, fcClx = entry 33 → 0x1A2).

Span mapping mirrors the DOCX lane (same kind vocabulary so downstream
operators stay format-agnostic):

- built-in heading styles (istd 1..9, fixed indices per [MS-DOC]
  §2.9.260) → ``heading`` — a *leading* heading becomes ``title``
  (same promotion as the markdown lane)
- body paragraphs → ``main`` / ``boilerplate`` by the shared length
  threshold
- table rows (cell marks 0x07 under sprmPFInTable, row ended by the
  sprmPFTtp paragraph) → ``line`` with tab-joined cells; the row-end
  paragraph's sprmTDefTable (0xD608) carries the TAP — per-cell TC80
  structures whose tcgrf flags express merges ([MS-DOC] §2.9.317:
  fFirstMerged 0x0001 / fMerged 0x0002 horizontally, fVertMerge
  0x0020 / fVertRestart 0x0040 vertically) — so
  ``extract_doc_tables`` densifies rows into rectangular grids with
  merge-covered cells as empty filler, byte-identical to the HTML
  lane's colspan/rowspan expansion (merged cells drop from the
  tab-joined ``line`` text too)
- inline picture / drawn-object anchors (0x01 / 0x08) → ``media``
- footnote and header/footer text (the ccpFtn / ccpHdd CP regions
  after the main document) → ``boilerplate``
- field codes (0x13 code 0x14 result 0x15) keep only the RESULT text,
  nesting-aware — the reader never leaks ``HYPERLINK "..."`` plumbing

Robustness contract matches every other parser here: malformed bytes
→ ``parse_error`` (quarantine row), never an exception; encrypted /
obfuscated documents (FIB fEncrypted) quarantine explicitly.  No
external cross-validation library exists in this container (antiword /
python-docx are absent, and python-docx cannot read binary .doc at
all), so like the xls lane correctness rests on spec-cited structure
tests plus the self-describing fixture writer below — the writer and
reader are developed against the SPEC layout, not against each other:
tests pin raw byte layouts (FIB field offsets, PCD bit packing, FKP
geometry) independently of the reader.
"""

from __future__ import annotations

import re
import struct
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple, Union

from .cfb import read_stream, write_streams

MIN_CONTENT_CHARS = 25  # shared with the HTML/DOCX block classifier

FIB_MAGIC = 0xA5EC
_OFF_FLAGS = 0x0A          # FibBase fibFlags (fEncrypted/fWhichTblStm …)
_F_ENCRYPTED = 0x0100
_F_WHICH_TBL = 0x0200
_F_OBFUSCATED = 0x8000
_OFF_CCP_TEXT = 0x4C       # FibRgLw97 ccpText
_OFF_CCP_FTN = 0x50
_OFF_CCP_HDD = 0x54
_OFF_FCLCB = 0x9A          # FibRgFcLcb97 base
_IDX_PLCFBTEPAPX = 13
_IDX_CLX = 33

_FC_COMPRESSED = 0x40000000
_FC_MASK = 0x3FFFFFFF

SPRM_PF_IN_TABLE = 0x2416
SPRM_PF_TTP = 0x2417
SPRM_T_DEF_TABLE = 0xD608

# TC80 tcgrf flag bits ([MS-DOC] §2.9.317 / Word 97 TC definition)
TC_FIRST_MERGED = 0x0001   # first cell of a horizontal merge run
TC_MERGED = 0x0002         # horizontally merged into the run
TC_VERT_MERGE = 0x0020     # part of a vertical merge run
TC_VERT_RESTART = 0x0040   # first (content) cell of a vertical run

# fixture-writer FKP page cap: at most 20 paragraphs per page (like
# Word); the writer additionally packs greedily by SIZE — TAP-bearing
# row-end PAPX payloads run ~80 bytes each, so a page holds however
# many paragraphs actually fit (_fkp_fits simulates _build_fkp)
_FKP_CHUNK = 20


def _u16(b: bytes, o: int) -> int:
    return struct.unpack_from("<H", b, o)[0]


def _u32(b: bytes, o: int) -> int:
    return struct.unpack_from("<I", b, o)[0]


# --------------------------------------------------------------- pieces


@dataclass
class Piece:
    cp_start: int
    cp_end: int
    fc: int            # byte offset of first character in WordDocument
    compressed: bool   # 8-bit cp1252 vs UTF-16LE

    def byte_of_cp(self, cp: int) -> int:
        """Byte offset (FC) of character ``cp`` — the FKP lookup key."""
        step = 1 if self.compressed else 2
        return self.fc + (cp - self.cp_start) * step


def _parse_clx(clx: bytes) -> List[Piece]:
    """CLX = RgPrc* Pcdt.  Prc blocks (clxt=1) carry property
    modifiers for fast-saved files — skipped (their cbGrpprl framing is
    honored so the Pcdt is still found).  Pcdt (clxt=2) wraps PlcPcd:
    n+1 CPs then n 8-byte PCDs; PCD.fc bit 30 = fCompressed, low 30
    bits = fc (DOUBLED byte offset when compressed, per spec)."""
    pos = 0
    while pos < len(clx):
        tag = clx[pos]
        if tag == 1:
            cb = struct.unpack_from("<h", clx, pos + 1)[0]
            pos += 3 + max(cb, 0)
        elif tag == 2:
            lcb = _u32(clx, pos + 1)
            plc = clx[pos + 5 : pos + 5 + lcb]
            n = (lcb - 4) // 12
            if n < 0 or 4 * (n + 1) + 8 * n > len(plc):
                raise ValueError("PlcPcd size inconsistent")
            cps = [_u32(plc, 4 * i) for i in range(n + 1)]
            pieces: List[Piece] = []
            base = 4 * (n + 1)
            for i in range(n):
                raw_fc = _u32(plc, base + 8 * i + 2)
                compressed = bool(raw_fc & _FC_COMPRESSED)
                fc = raw_fc & _FC_MASK
                if compressed:
                    fc //= 2
                pieces.append(Piece(cps[i], cps[i + 1], fc, compressed))
            return pieces
        else:
            raise ValueError(f"unknown CLX block tag {tag}")
    raise ValueError("CLX has no Pcdt (piece table)")


def _decode_piece(word_stream: bytes, p: Piece) -> str:
    n = p.cp_end - p.cp_start
    if p.compressed:
        raw = word_stream[p.fc : p.fc + n]
        if len(raw) != n:
            raise ValueError("piece exceeds WordDocument stream")
        return raw.decode("cp1252", "replace")
    raw = word_stream[p.fc : p.fc + 2 * n]
    if len(raw) != 2 * n:
        raise ValueError("piece exceeds WordDocument stream")
    return raw.decode("utf-16le", "replace")


# ----------------------------------------------------------------- PAPX


@dataclass
class ParaProps:
    istd: int = 0
    in_table: bool = False
    ttp: bool = False
    tap: Optional[Tuple[int, ...]] = None  # tcgrf per cell (TTP rows)


def _sprm_operand_size(sprm: int, grpprl: bytes, pos: int) -> int:
    """Operand byte count from the sprm's spra field ([MS-DOC] §2.2.5.1);
    spra=6 is variable (first operand byte = remaining size, except
    sprmTDefTable whose size field is a u16 — handled for skip only)."""
    spra = (sprm >> 13) & 7
    if spra in (0, 1):
        return 1
    if spra in (2, 4, 5):
        return 2
    if spra == 3:
        return 4
    if spra == 7:
        return 3
    # spra == 6
    if sprm == 0xD608:  # sprmTDefTable: u16 size, counts itself minus 1
        return 2 + max(_u16(grpprl, pos) - 1, 0) if pos + 2 <= len(grpprl) else 2
    return 1 + (grpprl[pos] if pos < len(grpprl) else 0)


def _scan_grpprl(grpprl: bytes, props: ParaProps) -> None:
    pos = 0
    while pos + 2 <= len(grpprl):
        sprm = _u16(grpprl, pos)
        pos += 2
        size = _sprm_operand_size(sprm, grpprl, pos)
        operand = grpprl[pos : pos + size]
        if sprm == SPRM_PF_IN_TABLE and operand[:1] == b"\x01":
            props.in_table = True
        elif sprm == SPRM_PF_TTP and operand[:1] == b"\x01":
            props.ttp = True
            props.in_table = True
        elif sprm == SPRM_T_DEF_TABLE and len(operand) >= 3:
            # TDefTableOperand: cb(u16) itcMac(u8) rgdxaCenter
            # ((itcMac+1)×i16) rgTc80 (itcMac × 20 bytes, may be
            # truncated in real files → missing TC80s default to 0)
            itc = operand[2]
            base = 3 + 2 * (itc + 1)
            flags = []
            for i in range(itc):
                o = base + 20 * i
                flags.append(_u16(operand, o) if o + 2 <= len(operand) else 0)
            props.tap = tuple(flags)
        pos += size


class _PapxIndex:
    """PlcfBtePapx + PapxFkp pages → FC-keyed paragraph properties."""

    def __init__(self, word_stream: bytes, table_stream: bytes,
                 fc: int, lcb: int) -> None:
        self._entries: List[Tuple[int, int, ParaProps]] = []
        self._los: List[int] = []
        self._sorted = False
        if lcb < 4:
            return
        plc = table_stream[fc : fc + lcb]
        n = (lcb - 4) // 8
        pns = [
            _u32(plc, 4 * (n + 1) + 4 * i) & 0x3FFFFF for i in range(n)
        ]
        for pn in pns:
            page = word_stream[pn * 512 : (pn + 1) * 512]
            if len(page) < 512:
                continue
            crun = page[511]
            rgfc = [_u32(page, 4 * i) for i in range(crun + 1)]
            for i in range(crun):
                b_off = page[4 * (crun + 1) + 13 * i]
                props = ParaProps()
                if b_off:
                    papx_off = 2 * b_off
                    cb = page[papx_off]
                    if cb == 0:
                        size = 2 * page[papx_off + 1]
                        body = page[papx_off + 2 : papx_off + 2 + size]
                    else:
                        size = 2 * cb - 1
                        body = page[papx_off + 1 : papx_off + 1 + size]
                    if len(body) >= 2:
                        props.istd = _u16(body, 0)
                        _scan_grpprl(body[2:], props)
                self._entries.append((rgfc[i], rgfc[i + 1], props))

    def lookup(self, fc: int) -> ParaProps:
        # entries are FC-ordered (FKP pages cover ascending ranges in
        # every real file and in the fixture writer); bisect keeps the
        # per-paragraph lookup O(log n) — a linear scan would make a
        # 10k-paragraph document O(n²)
        import bisect

        if not self._sorted:
            self._entries.sort(key=lambda e: e[0])
            self._los = [e[0] for e in self._entries]
            self._sorted = True
        i = bisect.bisect_right(self._los, fc) - 1
        if i >= 0:
            lo, hi, props = self._entries[i]
            if lo <= fc < hi:
                return props
        return ParaProps()


# ---------------------------------------------------------------- parse

Span = Tuple[str, str, str]  # (kind, text, media_ref)


def _norm(text: str) -> str:
    return " ".join(text.split())


# grid-cell normalization — byte-identical to the HTML table lane
# (core/html.py:_tbl_close_cell): ASCII whitespace collapses to one
# space, ASCII-space trim only (U+3000 survives as content), and the
# in-cell break sentinel becomes "\n" absorbing one adjacent space each
# side.  The .doc in-cell break is the vertical tab 0x0b.
_CELL_WS_RE = re.compile(r"[ \t\r\n\f\v]+")
_CELL_BR_RE = re.compile(r" ?\x00 ?")


def _cell_norm(raw: str) -> str:
    raw = raw.replace("\x0b", "\x00")
    t = _CELL_WS_RE.sub(" ", raw).strip(" ")
    return _CELL_BR_RE.sub("\n", t)


def _tc_covered(g: int) -> bool:
    """True when a TC80's tcgrf marks the cell as merge-covered filler
    (horizontally merged into a run it does not start, or a vertical
    continuation)."""
    return bool(
        ((g & TC_MERGED) and not (g & TC_FIRST_MERGED))
        or ((g & TC_VERT_MERGE) and not (g & TC_VERT_RESTART))
    )


def _densify_doc_table(
    rows: List[Tuple[List[str], Optional[Tuple[int, ...]]]],
) -> List[List[str]]:
    """TTP rows (grid cells + tcgrf flags) → dense rectangular grid:
    merge-covered cells become empty filler and ragged rows pad to the
    table's max width — the same shape the HTML lane's colspan/rowspan
    expansion produces."""
    grid: List[List[str]] = []
    for cells, tap in rows:
        out = []
        for i, cell in enumerate(cells):
            g = tap[i] if tap is not None and i < len(tap) else 0
            out.append("" if _tc_covered(g) else cell)
        grid.append(out)
    width = max(len(r) for r in grid) if grid else 0
    for r in grid:
        r.extend([""] * (width - len(r)))
    return grid


def extract_doc_spans(content: bytes) -> Tuple[List[Span], Optional[str]]:
    """Parse a binary .doc; returns (spans, parse_error)."""
    spans, _tables, err = _extract_doc(content)
    return spans, err


def extract_doc_tables(content: bytes) -> List[List[List[str]]]:
    """Parse a binary .doc; returns its tables as dense rectangular
    grids (TAP merge flags expand to empty filler like HTML spans).
    Malformed input → empty list, never an exception."""
    _spans, tables, _err = _extract_doc(content)
    return tables


def _extract_doc(
    content: bytes,
) -> Tuple[List[Span], List[List[List[str]]], Optional[str]]:
    try:
        word = read_stream(content, "WordDocument")
        if word is None or len(word) < 0x200:
            return [], [], "doc parse failed: no WordDocument stream"
        if _u16(word, 0) != FIB_MAGIC:
            return [], [], "doc parse failed: bad FIB magic"
        flags = _u16(word, _OFF_FLAGS)
        if flags & (_F_ENCRYPTED | _F_OBFUSCATED):
            return [], [], "encrypted .doc quarantined"
        table_name = "1Table" if flags & _F_WHICH_TBL else "0Table"
        table = read_stream(content, table_name)
        if table is None:
            return [], [], f"doc parse failed: missing {table_name} stream"

        ccp_text = _u32(word, _OFF_CCP_TEXT)
        ccp_ftn = _u32(word, _OFF_CCP_FTN)
        ccp_hdd = _u32(word, _OFF_CCP_HDD)
        fc_clx = _u32(word, _OFF_FCLCB + 8 * _IDX_CLX)
        lcb_clx = _u32(word, _OFF_FCLCB + 8 * _IDX_CLX + 4)
        if lcb_clx == 0:
            return [], [], "doc parse failed: empty CLX"
        pieces = _parse_clx(table[fc_clx : fc_clx + lcb_clx])

        fc_papx = _u32(word, _OFF_FCLCB + 8 * _IDX_PLCFBTEPAPX)
        lcb_papx = _u32(word, _OFF_FCLCB + 8 * _IDX_PLCFBTEPAPX + 4)
        papx = _PapxIndex(word, table, fc_papx, lcb_papx)

        # decode the full CP stream once; remember each char's FC so
        # paragraph marks can be property-looked-up
        chars: List[str] = []
        fcs: List[int] = []
        for p in pieces:
            text = _decode_piece(word, p)
            for j, ch in enumerate(text):
                chars.append(ch)
                fcs.append(p.byte_of_cp(p.cp_start + j))

        spans, tables = _spans_from_chars(
            chars, fcs, papx, ccp_text, ccp_ftn, ccp_hdd
        )
        return spans, tables, None
    except Exception as e:  # malformed container → quarantine
        return [], [], f"doc parse failed: {e}"


def _spans_from_chars(
    chars: List[str], fcs: List[int], papx: _PapxIndex,
    ccp_text: int, ccp_ftn: int, ccp_hdd: int,
) -> Tuple[List[Span], List[List[List[str]]]]:
    spans: List[Span] = []
    tables: List[List[List[str]]] = []
    media_n = 0
    saw_lead = False      # has a non-empty span been emitted yet
    row_cells: List[str] = []
    row_grid: List[str] = []      # grid-normalized twin of row_cells
    tbl_rows: List[Tuple[List[str], Optional[Tuple[int, ...]]]] = []

    buf: List[str] = []
    field_depth = 0       # >0: inside a field CODE (skip until 0x14)
    pending_media: List[Tuple[str, str]] = []

    def close_table() -> None:
        nonlocal tbl_rows
        if tbl_rows:
            tables.append(_densify_doc_table(tbl_rows))
            tbl_rows = []

    def flush_para(end_cp: int, region: str) -> None:
        nonlocal saw_lead, media_n, row_cells, row_grid
        raw = "".join(buf)
        text = _norm(raw)
        buf.clear()
        props = papx.lookup(fcs[end_cp]) if end_cp < len(fcs) else ParaProps()
        is_cell_mark = end_cp < len(chars) and chars[end_cp] == "\x07"
        if region == "main" and props.in_table and is_cell_mark:
            if props.ttp:
                if row_cells:
                    # merge-covered cells drop from the visible row text
                    tap = props.tap
                    kept = [
                        c for i, c in enumerate(row_cells)
                        if not (tap is not None and i < len(tap)
                                and _tc_covered(tap[i]))
                    ]
                    if kept:
                        spans.append(("line", "\t".join(kept), ""))
                        saw_lead = True
                    tbl_rows.append((row_grid, tap))
                row_cells = []
                row_grid = []
            else:
                row_cells.append(text)
                row_grid.append(_cell_norm(raw))
            _flush_media()
            return
        if row_cells:  # table ended without a TTP mark (malformed): keep row
            spans.append(("line", "\t".join(row_cells), ""))
            tbl_rows.append((row_grid, None))
            row_cells = []
            row_grid = []
        close_table()
        if text:
            if region != "main":
                spans.append(("boilerplate", text, ""))
            elif 1 <= props.istd <= 9:
                spans.append(("heading" if saw_lead else "title", text, ""))
            elif len(text) >= MIN_CONTENT_CHARS:
                spans.append(("main", text, ""))
            else:
                spans.append(("boilerplate", text, ""))
            saw_lead = True
        _flush_media()

    def _flush_media() -> None:
        for kind_ref in pending_media:
            spans.append(("media", "", kind_ref[1]))
        pending_media.clear()

    limits = [
        (ccp_text, "main"), (ccp_text + ccp_ftn, "ftn"),
        (ccp_text + ccp_ftn + ccp_hdd, "hdd"),
    ]

    def region_of(cp: int) -> str:
        for hi, name in limits:
            if cp < hi:
                return name
        return "other"

    n = min(len(chars), limits[-1][0])
    for cp in range(n):
        ch = chars[cp]
        region = region_of(cp)
        if ch == "\x13":
            field_depth += 1
            continue
        if ch == "\x14":
            if field_depth:
                field_depth -= 1
            continue
        if ch == "\x15":
            continue
        if field_depth:
            continue
        if ch in ("\r", "\x07", "\x0c"):
            flush_para(cp, region)
            continue
        if ch == "\x01":
            pending_media.append(("media", f"embedded:obj{media_n}"))
            media_n += 1
            continue
        if ch == "\x08":
            pending_media.append(("media", f"shape:obj{media_n}"))
            media_n += 1
            continue
        if ch == "\x0b":          # vertical tab = in-paragraph line break
            buf.append("\x0b")      # whitespace for spans; "\\n" in grids
            continue
        if ch == "\x1e":          # non-breaking hyphen
            buf.append("-")
            continue
        if ch in ("\x1f", "\x02", "\x05"):  # soft hyphen / ref marks
            continue
        if ch == "\t":
            buf.append(" ")
            continue
        buf.append(ch)
    if buf or row_cells or pending_media:
        flush_para(n, region_of(max(n - 1, 0)))
    close_table()
    return spans, tables


# ------------------------------------------------------------- fixtures
#
# Spec-driven .doc writer.  Accepts the same block vocabulary the DOCX
# fixture writer uses so twin documents can be generated in both
# formats:
#   ("heading", level, text)      → paragraph with istd=level
#   ("para", text)                → plain paragraph
#   ("table", [[c, …], …])        → table (cell marks + TTP rows);
#       a cell is a str or (text, colspan, rowspan) — spans become
#       TC80 merge flags in the row's sprmTDefTable exactly as Word
#       writes them (fFirstMerged/fMerged horizontally, continuation
#       cells with fVertMerge injected in the rows below), mirroring
#       the HTML fixture semantics so twin documents densify to
#       byte-identical grids
#   ("field", code, result)       → field; only result must survive
#   ("media",)                    → inline picture anchor (0x01)
#   ("ftn", text) / ("hdd", text) → footnote / header region paragraph

Block = Tuple

Cell = Union[str, Tuple[str, int, int]]


def _expand_table(rows: Sequence[Sequence[Cell]]) -> List[List[Tuple[str, int]]]:
    """Authored rows → physical rows of (cell text, tcgrf), replicating
    the HTML lane's span bookkeeping (core/html.py _tbl_* lifecycle) so
    a .doc twin of an HTML table produces the same dense grid: colspan
    runs become fFirstMerged + fMerged cells, rowspans inject empty
    fVertMerge continuation cells in the rows below."""
    phys_rows: List[List[Tuple[str, int]]] = []
    pending: Dict[int, int] = {}  # col → occupied rows incl. current
    for row in rows:
        phys: List[Tuple[str, int]] = []

        def skip_occupied() -> None:
            while pending.get(len(phys), 0) > 0:
                phys.append(("", TC_VERT_MERGE))

        for cell in row:
            skip_occupied()
            if isinstance(cell, tuple):
                text, cs, rs = cell
                cs, rs = max(1, int(cs)), max(1, int(rs))
            else:
                text, cs, rs = cell, 1, 1
            col0 = len(phys)
            for k in range(cs):
                g = 0
                if cs > 1:
                    g |= TC_FIRST_MERGED if k == 0 else TC_MERGED
                if rs > 1:
                    g |= TC_VERT_RESTART | TC_VERT_MERGE
                phys.append((text if k == 0 else "", g))
            if rs > 1:
                for c in range(col0, col0 + cs):
                    pending[c] = max(pending.get(c, 0), rs)
        skip_occupied()
        phys_rows.append(phys)
        pending = {c: n - 1 for c, n in pending.items() if n > 1}
    return phys_rows


def _encode_stream_text(
    blocks: Sequence[Block],
) -> Tuple[str, str, str, List[Tuple[int, ParaProps]]]:
    """Blocks → (main_text, ftn_text, hdd_text, para_props) where
    para_props lists (char offset of each paragraph-end mark within the
    CONCATENATED text, props)."""
    main: List[str] = []
    ftn: List[str] = []
    hdd: List[str] = []

    def emit(target: List[str], text: str, mark: str = "\r") -> None:
        target.append(text + mark)

    for block in blocks:
        kind = block[0]
        if kind == "heading":
            emit(main, block[2])
        elif kind == "para":
            emit(main, block[1])
        elif kind == "field":
            emit(main, "\x13" + block[1] + "\x14" + block[2] + "\x15")
        elif kind == "media":
            emit(main, "\x01")
        elif kind == "table":
            for phys in _expand_table(block[1]):
                for text, _g in phys:
                    emit(main, text, mark="\x07")
                emit(main, "", mark="\x07")
        elif kind == "ftn":
            emit(ftn, block[1])
        elif kind == "hdd":
            emit(hdd, block[1])
        else:
            raise ValueError(f"unknown block kind {kind}")
    # paragraph-end marks in final CP order: regions concatenate
    # main → ftn → hdd, and _props_in_order yields props in exactly
    # that order (blocks per region, block order preserved)
    marks: List[Tuple[int, ParaProps]] = []
    cursor = 0
    prop_iter = _props_in_order(blocks)
    for region in (main, ftn, hdd):
        for para in region:
            cursor += len(para)
            marks.append((cursor - 1, next(prop_iter)))
    return "".join(main), "".join(ftn), "".join(hdd), marks


def _props_in_order(blocks: Sequence[Block]):
    """Paragraph props in final CP order: main-region blocks first (in
    block order), then ftn, then hdd — matching the region layout."""
    for want in ("main", "ftn", "hdd"):
        for block in blocks:
            kind = block[0]
            region = kind if kind in ("ftn", "hdd") else "main"
            if region != want:
                continue
            if kind == "heading":
                yield ParaProps(istd=block[1])
            elif kind in ("para", "field", "media", "ftn", "hdd"):
                yield ParaProps()
            elif kind == "table":
                for phys in _expand_table(block[1]):
                    for _ in phys:
                        yield ParaProps(in_table=True)
                    yield ParaProps(
                        in_table=True, ttp=True,
                        tap=tuple(g for _t, g in phys),
                    )


def _papx_in_fkp(props: ParaProps) -> bytes:
    grpprl = b""
    if props.ttp:
        grpprl += struct.pack("<H", SPRM_PF_TTP) + b"\x01"
        grpprl += struct.pack("<H", SPRM_PF_IN_TABLE) + b"\x01"
        if props.tap is not None:
            # TDefTableOperand: cb(u16, counts the operand minus 1)
            # itcMac rgdxaCenter rgTc80 (tcgrf + wWidth + 4 empty BRCs)
            itc = len(props.tap)
            payload = bytes([itc])
            payload += b"".join(
                struct.pack("<h", 1440 * i) for i in range(itc + 1)
            )
            for g in props.tap:
                payload += struct.pack("<HH", g, 1440) + b"\x00" * 16
            grpprl += struct.pack(
                "<HH", SPRM_T_DEF_TABLE, len(payload) + 1
            ) + payload
    elif props.in_table:
        grpprl += struct.pack("<H", SPRM_PF_IN_TABLE) + b"\x01"
    body = struct.pack("<H", props.istd) + grpprl
    if len(body) % 2:  # cb form holds odd sizes: size = 2*cb - 1
        cb = (len(body) + 1) // 2
        return bytes([cb]) + body
    # even size → cb=0 escape: second byte counts words
    return bytes([0, len(body) // 2]) + body


def _build_fkp(
    para_fcs: List[int], end_fc: int, props_list: List[ParaProps]
) -> bytes:
    """One 512-byte PapxFkp page holding a CHUNK of paragraphs (the
    writer splits into pages of ≤_FKP_CHUNK paragraphs like Word
    does; the builder asserts each chunk fits)."""
    crun = len(props_list)
    page = bytearray(512)
    pos = 0
    for fc in para_fcs + [end_fc]:
        struct.pack_into("<I", page, pos, fc)
        pos += 4
    bx_base = pos
    pos += 13 * crun

    # PAPX entries packed from the top of the page downward, word-aligned
    top = 511
    offsets: List[int] = []
    papx_blobs = [_papx_in_fkp(p) for p in props_list]
    # dedupe identical PAPX payloads (Word does the same)
    placed: Dict[bytes, int] = {}
    for blob in papx_blobs:
        if blob in placed:
            offsets.append(placed[blob])
            continue
        size = len(blob)
        if size % 2:
            size += 1
        top -= size
        word_off = top // 2 * 2
        page[word_off : word_off + len(blob)] = blob
        placed[blob] = word_off // 2
        offsets.append(word_off // 2)
        top = word_off
    if bx_base + 13 * crun > top:
        raise ValueError("fixture too large for a single PapxFkp page")
    for i, w in enumerate(offsets):
        page[bx_base + 13 * i] = w
    page[511] = crun
    return bytes(page)


def write_doc(
    blocks: Sequence[Block],
    unicode_from: Optional[int] = None,
    piece_split: Optional[int] = None,
    table_stream: str = "1Table",
) -> bytes:
    """Serialize blocks to .doc bytes.

    ``unicode_from``: CP at which text switches from a compressed
    (cp1252) piece to a UTF-16LE piece; defaults to the first CP whose
    char exceeds cp1252 (None if the whole text encodes).
    ``piece_split``: optionally split the FIRST (compressed) region at
    this CP into two pieces — exercises mid-word piece boundaries.
    """
    main, ftn, hdd, marks = _encode_stream_text(blocks)
    text = main + ftn + hdd
    n_cp = len(text)

    def _encodable(s: str) -> bool:
        try:
            s.encode("cp1252")
            return True
        except UnicodeEncodeError:
            return False

    if unicode_from is None:
        unicode_from = n_cp
        for i, ch in enumerate(text):
            if not _encodable(ch):
                unicode_from = i
                break
    if not _encodable(text[:unicode_from]):
        raise ValueError("unicode_from splits too late for cp1252 prefix")

    # piece list: [(cp_start, cp_end, compressed)]
    piece_bounds: List[Tuple[int, int, bool]] = []
    if unicode_from > 0:
        if piece_split and 0 < piece_split < unicode_from:
            piece_bounds.append((0, piece_split, True))
            piece_bounds.append((piece_split, unicode_from, True))
        else:
            piece_bounds.append((0, unicode_from, True))
    if unicode_from < n_cp:
        piece_bounds.append((unicode_from, n_cp, False))

    # --- WordDocument stream layout:
    # [FIB 1024][text pieces, in CP order][pad to 512][FKP page]
    fib_len = 1024
    word = bytearray(fib_len)
    piece_fcs: List[int] = []
    for cp0, cp1, compressed in piece_bounds:
        piece_fcs.append(len(word))
        seg = text[cp0:cp1]
        word += seg.encode("cp1252") if compressed else seg.encode("utf-16le")

    def fc_of_cp(cp: int) -> int:
        for (cp0, cp1, compressed), fc in zip(piece_bounds, piece_fcs):
            if cp0 <= cp < cp1:
                return fc + (cp - cp0) * (1 if compressed else 2)
        raise ValueError(f"cp {cp} out of range")

    # paragraph FC bounds for the FKP (per-paragraph start FCs + end)
    para_starts: List[int] = []
    props_list: List[ParaProps] = []
    prev_end_cp = -1
    for end_cp, props in marks:
        para_starts.append(fc_of_cp(prev_end_cp + 1))
        props_list.append(props)
        prev_end_cp = end_cp
    end_fc = fc_of_cp(marks[-1][0]) + (
        1 if piece_bounds and any(
            cp0 <= marks[-1][0] < cp1 and comp
            for (cp0, cp1, comp) in piece_bounds
        ) else 2
    )

    # chunk paragraphs into FKP pages (rgfc + 13-byte bx entries + the
    # PAPX payloads must all fit in one 512-byte page): greedy by fit
    while len(word) % 512:
        word.append(0)

    def _fkp_fits(props_chunk: List[ParaProps]) -> bool:
        crun = len(props_chunk)
        if crun == 0 or crun > _FKP_CHUNK:
            return False
        top = 511
        placed: set = set()
        for blob in (_papx_in_fkp(pp) for pp in props_chunk):
            if blob in placed:
                continue
            top -= len(blob) + (len(blob) % 2)
            top = top // 2 * 2
            placed.add(blob)
        return 4 * (crun + 1) + 13 * crun <= top

    chunks: List[Tuple[List[int], int, List[ParaProps]]] = []
    i = 0
    while i < len(para_starts):
        j = i + 1
        if not _fkp_fits(props_list[i:j]):
            raise ValueError("PAPX too large for a single PapxFkp page")
        while j < len(para_starts) and _fkp_fits(props_list[i : j + 1]):
            j += 1
        chunk_end = para_starts[j] if j < len(para_starts) else end_fc
        chunks.append((para_starts[i:j], chunk_end, props_list[i:j]))
        i = j
    fkp_pns: List[int] = []
    for starts_chunk, chunk_end, props_chunk in chunks:
        fkp_pns.append(len(word) // 512)
        word += _build_fkp(starts_chunk, chunk_end, props_chunk)

    # --- table stream: [CLX][PlcfBtePapx]
    pcds = bytearray()
    cps = [cp0 for cp0, _, _ in piece_bounds] + [n_cp]
    for cp in cps:
        pcds += struct.pack("<I", cp)
    for (cp0, cp1, compressed), fc in zip(piece_bounds, piece_fcs):
        raw_fc = (2 * fc) | _FC_COMPRESSED if compressed else fc
        pcds += struct.pack("<HIH", 0, raw_fc, 0)
    clx = b"\x02" + struct.pack("<I", len(pcds)) + bytes(pcds)

    plcf_papx = b"".join(
        struct.pack("<I", c[0][0]) for c in chunks
    ) + struct.pack("<I", end_fc) + b"".join(
        struct.pack("<I", pn) for pn in fkp_pns
    )
    table = bytearray()
    fc_clx = 0
    table += clx
    fc_papx = len(table)
    table += plcf_papx

    # --- FIB
    struct.pack_into("<H", word, 0, FIB_MAGIC)
    struct.pack_into("<H", word, 2, 0x00C1)  # nFib: Word 97
    flags = _F_WHICH_TBL if table_stream == "1Table" else 0
    struct.pack_into("<H", word, _OFF_FLAGS, flags)
    struct.pack_into("<H", word, 0x20, 0x000E)  # csw
    struct.pack_into("<H", word, 0x3E, 0x0016)  # cslw
    struct.pack_into("<I", word, 0x18, fib_len)            # fcMin
    struct.pack_into("<I", word, 0x1C, fib_len + sum(
        (cp1 - cp0) * (1 if comp else 2)
        for cp0, cp1, comp in piece_bounds
    ))                                                     # fcMac
    struct.pack_into("<I", word, _OFF_CCP_TEXT, len(main))
    struct.pack_into("<I", word, _OFF_CCP_FTN, len(ftn))
    struct.pack_into("<I", word, _OFF_CCP_HDD, len(hdd))
    struct.pack_into("<H", word, 0x98, 0x005D)  # cbRgFcLcb (Word 97)
    struct.pack_into(
        "<II", word, _OFF_FCLCB + 8 * _IDX_PLCFBTEPAPX,
        fc_papx, len(plcf_papx),
    )
    struct.pack_into(
        "<II", word, _OFF_FCLCB + 8 * _IDX_CLX, fc_clx, len(clx)
    )

    return write_streams({"WordDocument": bytes(word),
                          table_stream: bytes(table)})
