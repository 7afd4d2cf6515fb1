"""hOCR lane: OCR-engine output (scanned documents) → ordered spans.

Scanned books/PDFs enter a training corpus through OCR, and every
mainstream engine (Tesseract, OCRopus, Kraken) emits the PUBLISHED
hOCR microformat (kba.github.io/hocr-spec): ordinary HTML whose class
attributes carry layout roles and whose ``title`` attributes carry
per-element properties::

    <div class='ocr_page'  title='image "p1.png"; bbox 0 0 2480 3508'>
     <div class='ocr_carea' title='bbox …'>
      <p class='ocr_par'>
       <span class='ocr_line' title='bbox 110 120 900 160'>
        <span class='ocrx_word' title='bbox …; x_wconf 96'>Hello</span>

Span mapping (same kind vocabulary as the HTML/PDF layout lanes):

- ``ocr_header``/``ocr_title`` lines → ``heading`` (a LEADING header
  promotes to ``title``, matching the markdown/wiki lanes);
- ``ocr_par`` paragraphs (their lines space-joined in document order —
  hOCR is already in reading order; multi-column ordering is the OCR
  engine's job, encoded in ``ocr_carea`` order) → ``main``/
  ``boilerplate`` by the shared length threshold;
- ``ocr_caption`` → ``caption``;
- ``ocr_photo``/``ocr_graphic``/``ocr_image`` regions → ``media`` with
  ``media_ref = "<page image>#bbox(x0,y0,x1,y1)"`` (the crop
  coordinates a multimodal pipeline needs to pair the region with its
  caption);
- word confidences (``x_wconf``) do NOT gate extraction here — the
  corpus-level quality policy lives in
  ``operators/ocrstats.ocr_conf_stats`` (mean/low-confidence-fraction
  signals feeding the cleaning funnel), keeping parse and policy
  separate like every other lane.

Malformed bytes → parse_error quarantine row, never a task failure.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Dict, List, Optional, Tuple

MIN_CONTENT_CHARS = 25  # shared with the HTML/DOCX block classifier

Triple = Tuple[str, str, str]

_BBOX_RE = re.compile(r"bbox\s+(\d+)\s+(\d+)\s+(\d+)\s+(\d+)")
_WCONF_RE = re.compile(r"x_wconf\s+([\d.]+)")
_IMAGE_RE = re.compile(r'image\s+"([^"]*)"')

_MEDIA_CLASSES = {"ocr_photo", "ocr_graphic", "ocr_image"}
_HEADER_CLASSES = {"ocr_header", "ocr_title"}


def _parse_title(title: str) -> Dict[str, object]:
    out: Dict[str, object] = {}
    m = _BBOX_RE.search(title or "")
    if m:
        out["bbox"] = tuple(int(g) for g in m.groups())
    m = _WCONF_RE.search(title or "")
    if m:
        out["wconf"] = float(m.group(1))
    m = _IMAGE_RE.search(title or "")
    if m:
        out["image"] = m.group(1)
    return out


class _HocrParser(HTMLParser):
    """One pass, document order.  Collects (kind, text, media_ref,
    word_confs) block records."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: List[Tuple[str, List[str], str, List[float]]] = []
        self.n_pages = 0
        self._page_image = ""
        self._stack: List[Tuple[str, str]] = []  # (tag, role)
        self._cur_words: List[str] = []
        self._cur_confs: List[float] = []
        self._cur_role: Optional[str] = None
        self._in_word = False
        self._word_buf: List[str] = []
        self._word_conf: Optional[float] = None

    # -- helpers
    def _open_block(self, role: str) -> None:
        self._flush_block()
        self._cur_role = role

    def _flush_block(self) -> None:
        if self._cur_role is not None and self._cur_words:
            self.blocks.append(
                (self._cur_role, self._cur_words, "", self._cur_confs)
            )
        self._cur_words = []
        self._cur_confs = []
        self._cur_role = None

    # -- HTMLParser hooks
    def handle_starttag(self, tag: str, attrs) -> None:
        a = dict(attrs)
        classes = set((a.get("class") or "").split())
        props = _parse_title(a.get("title") or "")
        if "ocr_page" in classes:
            self._flush_block()
            self.n_pages += 1
            self._page_image = str(props.get("image", "")) or (
                self._page_image
            )
            role = "page"
        elif classes & _MEDIA_CLASSES:
            self._flush_block()
            bbox = props.get("bbox")
            ref = self._page_image + (
                "#bbox(%d,%d,%d,%d)" % bbox if bbox else ""
            )
            self.blocks.append(("media", [], ref, []))
            role = "media"
        elif classes & _HEADER_CLASSES:
            self._open_block("heading")
            role = "block"
        elif "ocr_caption" in classes:
            self._open_block("caption")
            role = "block"
        elif "ocr_par" in classes:
            self._open_block("para")
            role = "block"
        elif "ocr_line" in classes and self._cur_role is None:
            # a line outside any paragraph still extracts
            self._open_block("para")
            role = "block"
        elif "ocrx_word" in classes or "ocr_word" in classes:
            self._in_word = True
            self._word_buf = []
            self._word_conf = props.get("wconf")  # type: ignore
            role = "word"
        else:
            role = ""
        self._stack.append((tag, role))

    def handle_endtag(self, tag: str) -> None:
        # pop to the matching open tag (lenient on misnesting)
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i][0] == tag:
                closed = self._stack[i:]
                del self._stack[i:]
                for _t, role in closed:
                    if role == "word" and self._in_word:
                        word = "".join(self._word_buf).strip()
                        if word:
                            self._cur_words.append(word)
                            if self._word_conf is not None:
                                self._cur_confs.append(
                                    float(self._word_conf)
                                )
                        self._in_word = False
                    elif role == "block":
                        self._flush_block()
                break

    def handle_data(self, data: str) -> None:
        if self._in_word:
            self._word_buf.append(data)
        elif self._cur_role is not None:
            # bare text inside a line/par without ocrx_word wrapping
            for w in data.split():
                self._cur_words.append(w)

    def close(self) -> None:  # type: ignore[override]
        super().close()
        self._flush_block()


def extract_hocr_blocks(
    content: bytes,
) -> Tuple[List[Tuple[str, str, str, List[float]]], int]:
    """((role, text, media_ref, word_confs) records in document order,
    n_pages)."""
    parser = _HocrParser()
    parser.feed(content.decode("utf-8", "replace"))
    parser.close()
    out = []
    for role, words, ref, confs in parser.blocks:
        out.append((role, " ".join(words), ref, confs))
    return out, parser.n_pages


def extract_hocr_spans(
    content: bytes,
) -> Tuple[List[Triple], Optional[str]]:
    try:
        blocks, n_pages = extract_hocr_blocks(content)
        if not blocks and n_pages == 0:
            # not hOCR at all (no ocr_page, no recognized blocks) —
            # quarantine rather than emitting a silently-empty doc
            return [], "hocr parse failed: no hOCR structure found"
        spans: List[Triple] = []
        for role, text, ref, _confs in blocks:
            if role == "media":
                spans.append(("media", "", ref))
                continue
            if not text:
                continue
            if role == "heading":
                spans.append(
                    ("title" if not spans else "heading", text, "")
                )
            elif role == "caption":
                spans.append(("caption", text, ""))
            elif len(text) >= MIN_CONTENT_CHARS:
                spans.append(("main", text, ""))
            else:
                spans.append(("boilerplate", text, ""))
        return spans, None
    except Exception as e:  # pragma: no cover — must quarantine
        return [], f"hocr parse failed: {e}"


# ------------------------------------------------------------- fixtures


def write_hocr(
    pages: List[Dict],
) -> bytes:
    """Tesseract-shaped fixture writer.  Each page dict:
    ``{"image": "p1.png", "blocks": [(role, text-or-None, bbox,
    [conf,…]), …]}`` where role ∈ para/heading/caption/photo; word
    confidences pair positionally with the text's words."""
    out = [
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>",
        "<html><head><meta charset='utf-8'/>",
        "<meta name='ocr-system' content='tesseract 5.3.0'/>",
        "</head><body>",
    ]
    wid = 0
    for pi, page in enumerate(pages, 1):
        out.append(
            f"<div class='ocr_page' id='page_{pi}' "
            f"title='image \"{page.get('image', '')}\"; "
            f"bbox 0 0 2480 3508; ppageno {pi - 1}'>"
        )
        for role, text, bbox, confs in page["blocks"]:
            bb = "bbox %d %d %d %d" % bbox
            if role == "photo":
                out.append(
                    f"<div class='ocr_photo' title='{bb}'></div>"
                )
                continue
            cls = {
                "heading": "ocr_header",
                "caption": "ocr_caption",
            }.get(role, "ocr_par")
            tag = "span" if cls == "ocr_header" else "p"
            out.append(f"<{tag} class='{cls}' title='{bb}'>")
            out.append(f"<span class='ocr_line' title='{bb}'>")
            words = (text or "").split()
            for j, w in enumerate(words):
                conf = confs[j] if j < len(confs) else 95
                wid += 1
                esc = (
                    w.replace("&", "&amp;").replace("<", "&lt;")
                    .replace(">", "&gt;")
                )
                out.append(
                    f"<span class='ocrx_word' id='word_{wid}' "
                    f"title='{bb}; x_wconf {conf}'>{esc}</span>"
                )
            out.append(f"</span></{tag}>")
        out.append("</div>")
    out.append("</body></html>")
    return "\n".join(out).encode("utf-8")
