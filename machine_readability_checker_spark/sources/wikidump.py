"""MediaWiki XML dump Spark source — pages-articles dumps → docs_raw.

Wikipedia publishes its corpus as ``pages-articles*.xml.bz2`` dumps
(one ``<page>`` element per article under the published
export-0.x schema: ``<title> <ns> <id> <redirect/>
<revision><text>…</text></revision>``).  Like the WARC and archive
lanes, the DUMP FILE is the unit of parallelism —
``spark.read.format("binaryFile")`` gives one row per dump part,
file-level task scheduling and path-glob pruning; page iteration runs
inside an Arrow-batched ``mapInPandas`` kernel via
``ElementTree.iterparse`` with element recycling (``elem.clear()``
after each page), so memory is bounded by one page, not the dump.
Real dumps ship as ~250 MB multistream parts, which is exactly the
file-granule sweet spot at cluster scale.

Pages become RAW_SCHEMA rows ``(doc_id = "<file>!<page_id>",
fmt = "wiki", content = "= <title> =\\n\\n" + wikitext)`` — the title
prepends as a level-1 heading, which the wikitext lane promotes to the
``title`` span (the WikiExtractor convention).  Policy:

- only main-namespace pages (``ns == 0``) by default — talk/user/
  template pages are plumbing, not corpus;
- ``<redirect/>`` pages skip by default (their text is one #REDIRECT
  line; ``keep_redirects=True`` lets dedup studies keep them);
- bz2 parts decompress transparently, MULTISTREAM-aware (a
  multistream dump concatenates independent bz2 streams; stdlib
  ``bz2.decompress`` would stop at the first — the decompressor loop
  walks them all) behind the shared bomb cap;
- a corrupt part produces ONE quarantine row (fmt
  ``__wikidump_error__``), never a task failure.

Deterministic: pages emit in dump order.
"""

from __future__ import annotations

import bz2
from typing import Iterator, List, Optional, Tuple
from xml.etree import ElementTree

from pyspark.sql import DataFrame, SparkSession

from .archive import read_bundles

MAX_PART_BYTES = 2 << 30  # decompressed cap per dump part (bomb guard)


def _decompress_multistream(data: bytes, cap: int = MAX_PART_BYTES) -> bytes:
    """All concatenated bz2 streams, capped."""
    out: List[bytes] = []
    total = 0
    rest = data
    while rest:
        dec = bz2.BZ2Decompressor()
        chunk = dec.decompress(rest, cap - total)
        out.append(chunk)
        total += len(chunk)
        if total >= cap:
            raise ValueError(
                f"dump part exceeds decompression cap ({cap} bytes)"
            )
        if not dec.eof:
            break
        rest = dec.unused_data
    return b"".join(out)


def _local(tag: str) -> str:
    """Strip the export-schema namespace from an element tag."""
    return tag.rsplit("}", 1)[-1]


def iter_dump_pages(
    data: bytes,
    namespaces: Tuple[int, ...] = (0,),
    keep_redirects: bool = False,
) -> Iterator[Tuple[str, str, str, bool]]:
    """Dump bytes → (page_id, title, wikitext, is_redirect) per kept
    page, streaming (one page in memory at a time)."""
    if data[:3] == b"BZh":
        data = _decompress_multistream(data)
    import io

    title: Optional[str] = None
    ns = 0
    page_id: Optional[str] = None
    text = ""
    redirect = False
    depth_id_seen = False
    for event, elem in ElementTree.iterparse(
        io.BytesIO(data), events=("start", "end")
    ):
        tag = _local(elem.tag)
        if event == "start":
            if tag == "page":
                title, ns, page_id, text = None, 0, None, ""
                redirect = False
                depth_id_seen = False
            continue
        if tag == "title":
            title = elem.text or ""
        elif tag == "ns":
            ns = int(elem.text or 0)
        elif tag == "id" and not depth_id_seen:
            # first <id> under <page> is the page id (revision and
            # contributor carry their own <id> later)
            page_id = elem.text or ""
            depth_id_seen = True
        elif tag == "redirect":
            redirect = True
        elif tag == "text":
            text = elem.text or ""
        elif tag == "page":
            if (
                page_id is not None
                and ns in namespaces
                and (keep_redirects or not redirect)
            ):
                yield page_id, title or "", text, redirect
            elem.clear()


def read_wikidump(
    spark: SparkSession,
    path_glob: str,
    namespaces: Tuple[int, ...] = (0,),
    keep_redirects: bool = False,
    prepend_title: bool = True,
) -> DataFrame:
    """Dump parts matching ``path_glob`` → RAW_SCHEMA rows, one per
    kept page (plus one quarantine row per corrupt part, after the
    pages parsed before the error)."""

    def walk(_path: str, data: bytes) -> Iterator[Tuple[str, str, bytes]]:
        for pid, title, text, _red in iter_dump_pages(
            data, namespaces, keep_redirects
        ):
            if prepend_title and title:
                text = f"= {title} =\n\n{text}"
            yield pid, "wiki", text.encode("utf-8")

    return read_bundles(
        spark.read.format("binaryFile").load(path_glob),
        walk,
        "__wikidump_error__",
    )


# ------------------------------------------------------------- fixtures

_EXPORT_NS = "http://www.mediawiki.org/xml/export-0.10/"


def write_dump_xml(
    pages: List[Tuple[str, str, int, str, bool]],
) -> bytes:
    """Fixture writer: (page_id, title, ns, wikitext, is_redirect)
    rows → a schema-shaped dump part (namespaced like the real
    export; revision/contributor ids exercise the first-<id>-wins
    rule)."""
    ElementTree.register_namespace("", _EXPORT_NS)
    root = ElementTree.Element(f"{{{_EXPORT_NS}}}mediawiki")
    for pid, title, ns, text, redirect in pages:
        page = ElementTree.SubElement(root, f"{{{_EXPORT_NS}}}page")
        ElementTree.SubElement(page, f"{{{_EXPORT_NS}}}title").text = title
        ElementTree.SubElement(page, f"{{{_EXPORT_NS}}}ns").text = str(ns)
        ElementTree.SubElement(page, f"{{{_EXPORT_NS}}}id").text = pid
        if redirect:
            ElementTree.SubElement(
                page, f"{{{_EXPORT_NS}}}redirect"
            ).set("title", "Target")
        rev = ElementTree.SubElement(page, f"{{{_EXPORT_NS}}}revision")
        ElementTree.SubElement(
            rev, f"{{{_EXPORT_NS}}}id"
        ).text = str(int(pid) * 10 + 1)
        contributor = ElementTree.SubElement(
            rev, f"{{{_EXPORT_NS}}}contributor"
        )
        ElementTree.SubElement(
            contributor, f"{{{_EXPORT_NS}}}id"
        ).text = str(int(pid) * 100 + 7)
        ElementTree.SubElement(rev, f"{{{_EXPORT_NS}}}text").text = text
    return ElementTree.tostring(root, encoding="utf-8",
                                xml_declaration=True)
