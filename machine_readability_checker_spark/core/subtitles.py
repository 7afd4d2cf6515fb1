"""Subtitle source lane: SRT + WebVTT → timed caption spans,
dependency-free and deterministic.

Subtitles are the text half of video training pairs (a crawl's ``.vtt``
/ ``.srt`` sidecars carry the transcript for the media document next to
them), so the interleaved span model wants them as a first-class lane:
each cue becomes a ``caption`` span whose ``media_ref`` carries the
timing as ``t={start_ms}-{end_ms}`` — the span schema's media_ref is
exactly the right slot for "where in the media this text aligns", the
same way image spans carry their blob key.

From-scratch parsers over the published formats — SubRip's de-facto
grammar and the W3C WebVTT spec — NOT ports of any player:

- SRT: blank-line-separated cues ``index / HH:MM:SS,mmm -->
  HH:MM:SS,mmm / text lines``; the index line is optional junk (many
  tools renumber or drop it), ``.`` accepted for ``,`` (lenient, both
  spellings occur in the wild); a UTF-8 BOM is stripped.
- WebVTT: requires the ``WEBVTT`` magic (quarantines otherwise —
  that's the spec's hard rule); NOTE / STYLE / REGION blocks skipped;
  optional cue identifiers; cue settings after the timestamp
  (``align:`` etc.) ignored; ``MM:SS.mmm`` short form accepted.
- both: inline markup stripped — HTML-ish tags (``<i> <b> <u>
  <c.class> <v Speaker> <ruby> <00:00:01.000>`` karaoke stamps) and
  ASS-style ``{\\an8}`` override blocks; entities ``&amp; &lt; &gt;
  &nbsp;`` decoded; cue lines joined with ``\\n`` (line breaks are
  content in subtitles — they mark caption rows).
- cues keep FILE order (offset = cue order), even when timestamps are
  non-monotonic; cues with end < start quarantine nothing — they are
  kept verbatim (players clamp; data pipelines want the text).

No reference analog (the reference reads spreadsheets only,
``src/processor/loader.py:157-201``); the lane exists for the
training-data pipeline mandate.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

Cue = Tuple[int, int, str]  # (start_ms, end_ms, text)
Triple = Tuple[str, str, str]

_TS_RE = re.compile(
    r"(?:(\d{1,2}):)?(\d{1,2}):(\d{1,2})[.,](\d{1,3})"
)
_ARROW_RE = re.compile(
    r"^\s*((?:\d{1,2}:)?\d{1,2}:\d{1,2}[.,]\d{1,3})\s*-->\s*"
    r"((?:\d{1,2}:)?\d{1,2}:\d{1,2}[.,]\d{1,3})(.*)$"
)
_TAG_RE = re.compile(r"<[^>\n]*>")
_ASS_RE = re.compile(r"\{\\[^}\n]*\}")
_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&nbsp;", " "), ("&amp;", "&"),
)


def _ts_ms(ts: str) -> int:
    m = _TS_RE.fullmatch(ts.strip())
    if not m:
        raise ValueError(f"bad timestamp: {ts!r}")
    h = int(m.group(1)) if m.group(1) else 0
    frac = m.group(4).ljust(3, "0")
    return ((h * 60 + int(m.group(2))) * 60 + int(m.group(3))) * 1000 + int(
        frac
    )


def _clean_cue_text(lines: List[str]) -> str:
    out = []
    for ln in lines:
        s = _TAG_RE.sub("", _ASS_RE.sub("", ln)).strip()
        for ent, ch in _ENTITIES:
            s = s.replace(ent, ch)
        if s:
            out.append(s)
    return "\n".join(out)


def parse_srt_cues(text: str) -> List[Cue]:
    text = text.lstrip("﻿").replace("\r\n", "\n").replace("\r", "\n")
    cues: List[Cue] = []
    block: List[str] = []

    def flush(block: List[str]) -> None:
        for k, line in enumerate(block):
            m = _ARROW_RE.match(line)
            if m:
                body = _clean_cue_text(block[k + 1:])
                if body:
                    cues.append((_ts_ms(m.group(1)), _ts_ms(m.group(2)), body))
                return
        # no timing line: renumbering junk / stray text — skipped

    for line in text.split("\n"):
        if line.strip():
            block.append(line)
        elif block:
            flush(block)
            block = []
    if block:
        flush(block)
    return cues


def parse_vtt_cues(text: str) -> List[Cue]:
    text = text.lstrip("﻿").replace("\r\n", "\n").replace("\r", "\n")
    if not text.startswith("WEBVTT"):
        raise ValueError("missing WEBVTT magic")
    blocks = text.split("\n\n")
    cues: List[Cue] = []
    for bi, raw in enumerate(blocks):
        lines = [l for l in raw.split("\n") if l.strip()]
        if not lines:
            continue
        head = lines[0].strip()
        if bi == 0 and head.startswith("WEBVTT"):
            lines = lines[1:]  # header block may still carry a cue (rare)
            if not lines:
                continue
            head = lines[0].strip()
        if head.startswith(("NOTE", "STYLE", "REGION")):
            continue
        k = 0
        if not _ARROW_RE.match(lines[k]) and len(lines) > 1 and _ARROW_RE.match(
            lines[1]
        ):
            k = 1  # cue identifier line
        m = _ARROW_RE.match(lines[k])
        if not m:
            continue
        body = _clean_cue_text(lines[k + 1:])
        if body:
            cues.append((_ts_ms(m.group(1)), _ts_ms(m.group(2)), body))
    return cues


def extract_subtitle_spans(
    content: bytes, fmt: str
) -> Tuple[List[Triple], Optional[str]]:
    """Subtitle bytes → ordered (kind, text, media_ref) triples; one
    ``caption`` span per cue, media_ref = ``t={start_ms}-{end_ms}``."""
    try:
        text = content.decode("utf-8", errors="replace")
        cues = parse_vtt_cues(text) if fmt == "vtt" else parse_srt_cues(text)
        if not cues:
            return [], f"{fmt} parse failed: no cues"
        return [
            ("caption", body, f"t={a}-{b}") for a, b, body in cues
        ], None
    except Exception as e:
        return [], f"{fmt} parse failed: {e}"
