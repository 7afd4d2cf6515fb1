"""RTF lane: stdlib Rich Text Format tokenizer → ordered layout spans.

Legacy-web coverage next to HTML/PDF and the Office trio.  A proper
group-aware tokenizer (not a regex strip): control words with optional
numeric arguments, ``\\'hh`` ANSI hex escapes, ``\\uN`` unicode escapes
honoring the current ``\\ucN`` skip count, ``{}`` group state
save/restore, skipped destinations (fonttbl/colortbl/stylesheet/info/
``{\\*`` ignorables), and ``\\pict`` groups surfaced as media spans.

Span mapping mirrors the DOCX/PPTX lanes: paragraphs flushed at
``\\par`` (and end of document) are length-classified into ``main`` /
``boilerplate``; pictures become ``media`` spans with a synthetic
``pict<N>`` ref (RTF embeds the bits inline; a media store would carry
them).  Deterministic, dependency-free, quarantine-safe.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

MIN_CONTENT_CHARS = 25  # same threshold as the HTML/DOCX/PPTX classifiers

_SKIP_DESTINATIONS = {
    "fonttbl",
    "colortbl",
    "stylesheet",
    "info",
    "themedata",
    "listtable",
    "listoverridetable",
    "header",
    "footer",
}

# control words that TRANSLATE to text rather than formatting
_TEXT_CONTROLS = {
    "par": "\n",
    "line": "\n",
    "tab": "\t",
    "emdash": "—",
    "endash": "–",
    "lquote": "‘",
    "rquote": "’",
    "ldblquote": "“",
    "rdblquote": "”",
    "~": " ",
    "_": "-",
}


def _read_control(data: str, i: int) -> Tuple[str, Optional[int], int]:
    """Parse a control word/symbol starting after the backslash at
    ``i``; returns (name, numeric_arg, next_index)."""
    n = len(data)
    if i >= n:
        return "", None, i
    c = data[i]
    if not c.isalpha():
        # control symbol: exactly one non-alpha char
        return c, None, i + 1
    j = i
    while j < n and data[j].isalpha():
        j += 1
    name = data[i:j]
    arg = None
    if j < n and (data[j] == "-" or data[j].isdigit()):
        k = j + 1 if data[j] == "-" else j
        while k < n and data[k].isdigit():
            k += 1
        arg = int(data[j:k])
        j = k
    # one space after a control word is a delimiter, not text
    if j < n and data[j] == " ":
        j += 1
    return name, arg, j


def _skip_fallback(data: str, i: int, count: int) -> int:
    """Skip ``count`` fallback character ENTITIES after ``\\uN``.

    The RTF spec counts a ``\\'hh`` hex escape (4 chars) — Word's usual
    CJK fallback — as ONE skippable character, and likewise an escaped
    ``\\\\``/``\\{``/``\\}`` control symbol; skipping stops at a group
    boundary.  A raw-char skip here leaks the tail of the hex escape
    into the output (e.g. ``\\uc1\\u26085\\'93`` would emit ``日'93``).
    """
    n = len(data)
    for _ in range(count):
        if i >= n or data[i] in "{}":
            break
        if data[i] == "\\":
            if i + 1 < n and data[i + 1] == "'":
                i += 4  # \'hh — one fallback entity
            else:
                i += 2  # escaped control symbol — one fallback entity
        else:
            i += 1
    return i


def extract_rtf_spans(
    content: bytes,
) -> Tuple[List[Tuple[str, str, str]], Optional[str]]:
    """→ ([(kind, text, media_ref)], parse_error)."""
    try:
        data = content.decode("cp1252", errors="replace")
    except Exception as e:  # pragma: no cover - cp1252 never raises here
        return [], f"rtf parse failed: {e}"
    if not data.startswith("{\\rtf"):
        return [], "rtf parse failed: missing {\\rtf header"

    spans: List[Tuple[str, str, str]] = []
    para: List[str] = []
    n_pict = 0

    def flush() -> None:
        text = " ".join("".join(para).split())
        del para[:]
        if not text:
            return
        kind = "main" if len(text) >= MIN_CONTENT_CHARS else "boilerplate"
        spans.append((kind, text, ""))

    # group state: (skipping, uc_skip)
    stack: List[Tuple[bool, int]] = []
    skipping = False
    uc_skip = 1
    depth = 0
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        if c == "{":
            stack.append((skipping, uc_skip))
            depth += 1
            i += 1
        elif c == "}":
            if not stack:
                return [], "rtf parse failed: unbalanced group"
            skipping, uc_skip = stack.pop()
            depth -= 1
            i += 1
        elif c == "\\":
            name, arg, i = _read_control(data, i + 1)
            if name in ("\\", "{", "}"):
                if not skipping:
                    para.append(name)
            elif name == "*":
                # ignorable destination: skip the whole group
                skipping = True
            elif name == "'":
                hex_code = data[i : i + 2]
                i += 2
                if not skipping:
                    try:
                        para.append(bytes([int(hex_code, 16)]).decode("cp1252"))
                    except ValueError:
                        return [], f"rtf parse failed: bad hex \\'{hex_code}"
            elif name == "u" and arg is not None:
                if not skipping:
                    para.append(chr(arg if arg >= 0 else arg + 65536))
                # skip the fallback ENTITIES per \ucN (\'hh counts as one)
                i = _skip_fallback(data, i, uc_skip)
            elif name == "uc" and arg is not None:
                uc_skip = arg
            elif name == "pict":
                if not skipping:
                    n_pict += 1
                    flush()
                    spans.append(("media", "", f"pict{n_pict}"))
                skipping = True  # the picture bits themselves
            elif name in _SKIP_DESTINATIONS:
                skipping = True
            elif name in _TEXT_CONTROLS:
                if not skipping:
                    if _TEXT_CONTROLS[name] == "\n":
                        flush()
                    else:
                        para.append(_TEXT_CONTROLS[name])
            # every other control word is formatting: ignored
        else:
            if not skipping and c not in ("\r", "\n"):
                para.append(c)
            i += 1
    if depth != 0:
        return [], "rtf parse failed: unbalanced group"
    flush()
    return spans, None


def write_rtf(
    paragraphs: List[str], with_picts: int = 0, unicode_demo: bool = False
) -> bytes:
    """Deterministic fixture writer."""

    def esc(s: str) -> str:
        out = []
        for ch in s:
            if ch in "\\{}":
                out.append("\\" + ch)
            elif ord(ch) > 127:
                out.append(f"\\u{ord(ch)}?")
            else:
                out.append(ch)
        return "".join(out)

    body = [
        "{\\rtf1\\ansi\\deff0",
        "{\\fonttbl{\\f0 Times New Roman;}}",
        "{\\colortbl;\\red0\\green0\\blue0;}",
    ]
    if unicode_demo:
        body.append("\\uc1 ")
    for p in paragraphs:
        body.append(esc(p) + "\\par ")
    for _ in range(with_picts):
        body.append("{\\pict\\wmetafile8 0102abcd}")
    body.append("}")
    return "".join(body).encode("cp1252", errors="replace")
