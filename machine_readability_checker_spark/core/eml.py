"""Email lane: RFC 822/MIME ``.eml`` messages → ordered layout spans.

Mail archives (mailing lists, the classic corpora) are a standard
pre-training source, and the stdlib ``email`` package implements the
full MIME stack (multipart walking, base64/quoted-printable transfer
decoding, RFC 2047 header decoding, charset handling) — so this lane
is a MAPPING layer, not a parser:

- ``Subject`` → ``title`` span (RFC 2047 decoded);
- ``From/To/Date`` → one ``boilerplate`` header span (provenance kept
  in the stream, never counted as content);
- body selection follows the MIME rules: walk the tree,
  ``multipart/alternative`` prefers ``text/plain`` (the cleaner
  training text) and falls back to ``text/html`` THROUGH THE HTML
  LANE (one boilerplate classifier for both arrival shapes);
- plain-text bodies split on blank lines; quoted-reply lines
  (``>``-prefixed) and everything after the de-facto ``-- ``
  signature delimiter classify as ``boilerplate``; other paragraphs
  length-classify like every lane;
- attachments (Content-Disposition attachment, or any non-text leaf
  part) → ``media`` spans with the decoded filename as ``media_ref``
  (bytes stay in the message — the multimodal job decides what to
  decode);
- malformed bytes → parse_error quarantine (the stdlib parser is
  lenient by design; a message with no headers AND no body is the
  quarantine signal).

The mbox container (``sources/mailbox.py``) splits archives into
messages; each message then rides this lane.
"""

from __future__ import annotations

import re
from email import policy
from email.parser import BytesParser
from typing import List, Optional, Tuple

MIN_CONTENT_CHARS = 25  # shared with the HTML/DOCX block classifier

Triple = Tuple[str, str, str]

_QUOTE_RE = re.compile(r"^\s*>")


def _norm(text: str) -> str:
    return " ".join(text.split())


def _plain_body_spans(text: str, spans: List[Triple]) -> None:
    sig = False
    for para in re.split(r"\n\s*\n", text):
        lines = [ln for ln in para.split("\n")]
        kept: List[str] = []
        quoted: List[str] = []
        for ln in lines:
            if ln.rstrip() == "--" or ln == "-- ":
                sig = True
                continue
            (quoted if _QUOTE_RE.match(ln) else kept).append(ln)
        if quoted:
            q = _norm(" ".join(_QUOTE_RE.sub("", ln) for ln in quoted))
            if q:
                spans.append(("boilerplate", q, ""))
        body = _norm(" ".join(kept))
        if not body:
            continue
        if sig:
            spans.append(("boilerplate", body, ""))
        elif len(body) >= MIN_CONTENT_CHARS:
            spans.append(("main", body, ""))
        else:
            spans.append(("boilerplate", body, ""))


def extract_eml_spans(
    content: bytes,
) -> Tuple[List[Triple], Optional[str]]:
    try:
        msg = BytesParser(policy=policy.default).parsebytes(content)
        spans: List[Triple] = []
        subject = _norm(str(msg.get("Subject", "") or ""))
        if subject:
            spans.append(("title", subject, ""))
        hdr_bits = []
        for h in ("From", "To", "Date"):
            v = _norm(str(msg.get(h, "") or ""))
            if v:
                hdr_bits.append(f"{h}: {v}")
        if hdr_bits:
            spans.append(("boilerplate", " | ".join(hdr_bits), ""))

        # body: get_body walks multipart/alternative with the stated
        # preference; related/mixed parts surface via iter_attachments
        body = msg.get_body(preferencelist=("plain", "html"))
        body_spans: List[Triple] = []
        if body is not None:
            ctype = body.get_content_type()
            try:
                text = body.get_content()
            except Exception:
                text = ""
            if ctype == "text/html" and text:
                from .html import extract_html_spans

                html_triples, _err = extract_html_spans(
                    text.encode("utf-8"), "utf-8"
                )
                body_spans.extend(html_triples)
            elif text:
                _plain_body_spans(text, body_spans)
        spans.extend(body_spans)

        n_attach = 0
        for part in msg.iter_attachments():
            name = part.get_filename() or (
                f"attachment{n_attach}"
            )
            spans.append(("media", "", f"attachment:{name}"))
            n_attach += 1

        if not spans:
            return [], "eml parse failed: no headers and no body"
        return spans, None
    except Exception as e:  # malformed message → quarantine
        return [], f"eml parse failed: {e}"


# ------------------------------------------------------------- fixtures


def write_eml(
    subject: str,
    from_addr: str,
    to_addr: str,
    plain: Optional[str] = None,
    html: Optional[str] = None,
    attachments: Optional[List[Tuple[str, bytes]]] = None,
    date: str = "Mon, 17 Aug 2026 10:00:00 +0000",
) -> bytes:
    """RFC-shaped fixture writer via the stdlib email.message API
    (multipart/alternative when both bodies given; attachments as
    base64 parts)."""
    from email.message import EmailMessage

    msg = EmailMessage()
    msg["Subject"] = subject
    msg["From"] = from_addr
    msg["To"] = to_addr
    msg["Date"] = date
    if plain is not None:
        msg.set_content(plain)
        if html is not None:
            msg.add_alternative(html, subtype="html")
    elif html is not None:
        msg.set_content(html, subtype="html")
    else:
        msg.set_content("")
    for name, blob in attachments or []:
        msg.add_attachment(
            blob, maintype="application", subtype="octet-stream",
            filename=name,
        )
    return msg.as_bytes()
