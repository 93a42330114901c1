"""Document assembly: parsed blocks → chunks → canonical extracted record.

Pins (byte-for-byte) the reference's extraction semantics:
- ordered substring tag→ChunkType map, default body_text
  (/root/reference/src/ingest.py:32-39,118-124 — dict order is semantic:
  table_row must match "table" before the generic rule; we keep the exact
  ordered-iteration contract).
- line-frequency boilerplate: a stripped line occurring more than
  0.4 × n_pages times AND shorter than 100 chars is removed from every page
  (/root/reference/CLAUDE.md:195-211; pinned by
  /root/reference/tests/test_ingest.py:24-43).
- empty-text filter after strip (ingest.py:180-183).
- running chapter/section propagation with section reset on new chapter
  (ingest.py:167-205): header level None or ≤1 sets chapter & clears
  section; deeper headers set section; the header chunk itself carries the
  updated values.
- reproducible-id regex (ingest.py:66-69); landscape/rotated pages become
  `reproducible` chunks emitted before layout chunks, page ascending
  (ingest.py:150-176), with chapter/section None (ingest.py:104-113).
- 1-based page numbers (/root/reference/CLAUDE.md:534).

Pure Python, no Spark imports — unit-testable and callable from pandas UDFs.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass

from ..canonical import encode_doc
from .html_extractor import extract_main_blocks
from .pdf_parser import ParsedPage, parse_pdf, is_pdf

# ordered: substring containment over the *chunk tag*, first hit wins
# (mirrors _TAG_MAP + infer_chunk_type, ingest.py:32-39,118-124)
TAG_MAP: tuple[tuple[str, str], ...] = (
    ("header", "title"),
    ("para", "body_text"),
    ("list_item", "list"),
    ("table", "table"),
    ("table_row", "table"),
)

BOILER_FRACTION = 0.4  # strictly greater-than
BOILER_MAX_LEN = 100  # strictly less-than

# PDF font-size → header-level heuristic (our layout stage's analog of
# llmsherpa's level attribute)
PDF_H1_SIZE = 16.0
PDF_H2_SIZE = 13.0


def infer_chunk_type(tag: str) -> str:
    tag_lower = (tag or "").lower().strip()
    for key, val in TAG_MAP:
        if key in tag_lower:
            return val
    return "body_text"


@dataclass
class Chunk:
    page: int  # 1-based
    tag: str
    level: int | None
    text: str


def boilerplate_lines(page_texts: list[str]) -> set[str]:
    """Stripped lines occurring > 0.4×n_pages times with len < 100."""
    counts: Counter[str] = Counter()
    for t in page_texts:
        for ln in t.splitlines():
            s = ln.strip()
            if s:
                counts[s] += 1
    n = len(page_texts)
    return {
        ln
        for ln, c in counts.items()
        if c > n * BOILER_FRACTION and len(ln) < BOILER_MAX_LEN
    }


def strip_boilerplate_text(text: str, boiler: set[str]) -> str:
    return "\n".join(ln for ln in text.splitlines() if ln.strip() not in boiler)


# ---------------------------------------------------------------------------
# per-format chunkers
# ---------------------------------------------------------------------------


def html_to_chunks(html: str) -> list[Chunk]:
    """HTML: structural boilerplate handled by the block scorer; whole page
    is page 1 (web pages have no pagination)."""
    return [
        Chunk(page=1, tag=b.tag, level=b.level, text=b.text)
        for b in extract_main_blocks(html)
    ]


def pdf_pages_to_chunks(pages: list[ParsedPage]) -> list[Chunk]:
    """PDF: rotated pages → `reproducible` chunks first (page ascending),
    then layout chunks from non-rotated pages with line-frequency
    boilerplate stripped across pages."""
    landscape = {p.index for p in pages if p.rotation in (90, 270)}
    chunks: list[Chunk] = []

    for p in sorted(pages, key=lambda p: p.index):
        if p.index not in landscape:
            continue
        desc = "\n".join(b.text() for b in p.blocks)
        chunks.append(Chunk(page=p.index + 1, tag="reproducible", level=None, text=desc))

    normal = [p for p in pages if p.index not in landscape]
    page_texts = ["\n".join(b.text() for b in p.blocks) for p in normal]
    boiler = boilerplate_lines(page_texts) if len(normal) > 1 else set()

    for p in normal:
        for b in p.blocks:
            txt = strip_boilerplate_text(b.text(), boiler)
            if b.max_size >= PDF_H1_SIZE:
                tag, level = "header", 1
            elif b.max_size >= PDF_H2_SIZE:
                tag, level = "header", 2
            else:
                tag, level = "para", None
            chunks.append(Chunk(page=p.index + 1, tag=tag, level=level, text=txt))
    return chunks


# ---------------------------------------------------------------------------
# assembly
# ---------------------------------------------------------------------------


def assemble(url: str, chunks: list[Chunk], parser: str) -> dict:
    """Chunks → canonical record dict {url, text, spans, meta}.

    Reproduces the reference chunk loop (ingest.py:167-205): empty filter,
    chapter/section state machine, chunk typing; then concatenates kept
    chunk texts with '\\n' and records byte offsets as spans.
    """
    current_chapter: str | None = None
    current_section: str | None = None
    parts: list[str] = []
    spans: list[dict] = []
    pos = 0

    for ch in chunks:
        text = ch.text.strip()
        if not text:
            continue  # ingest.py:180-183

        if ch.tag == "reproducible":
            # vision-path analog: no hierarchy state read or written
            kind = "reproducible"
            chapter = section = None
        else:
            if "header" in ch.tag.lower():
                if ch.level is None or ch.level <= 1:
                    current_chapter = text
                    current_section = None
                else:
                    current_section = text
            kind = infer_chunk_type(ch.tag)
            chapter, section = current_chapter, current_section

        start = pos
        end = pos + len(text)
        spans.append(
            {
                "start": start,
                "end": end,
                "kind": kind,
                "page": ch.page,
                "chapter": chapter,
                "section": section,
            }
        )
        parts.append(text)
        pos = end + 1  # joining '\n'

    full_text = "\n".join(parts)
    meta = {"chunk_count": len(spans), "parser": parser, "source": source_stem(url)}
    return {"url": url, "text": full_text, "spans": spans, "meta": meta}


def source_stem(url: str) -> str:
    """Filename-ish stem from url (P11 analog: sku/source derivation from
    the path stem, /root/reference/CLAUDE.md:186-192)."""
    path = url.split("://", 1)[-1]
    stem = path.rstrip("/").rsplit("/", 1)[-1] or path.split("/", 1)[0]
    return stem.rsplit(".", 1)[0] if "." in stem else stem


_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9_.:-]+)""", re.I
)
_BOMS: tuple[tuple[bytes, str], ...] = (
    (b"\xef\xbb\xbf", "utf-8"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)


def decode_html_payload(payload: bytes) -> str:
    """Charset sniffing: BOM → <meta charset> in the first 2048 bytes →
    UTF-8 with replacement (the WHATWG-ish precedence order)."""
    for bom, enc in _BOMS:
        if payload.startswith(bom):
            return payload[len(bom):].decode(enc, errors="replace")
    m = _CHARSET_RE.search(payload[:2048])
    if m:
        enc = m.group(1).decode("ascii", "replace").lower()
        try:
            return payload.decode(enc, errors="replace")
        except LookupError:
            pass
    return payload.decode("utf-8", errors="replace")


def extract_document(url: str, payload: bytes) -> dict:
    """One document end-to-end: route by magic bytes (two-path union U1,
    ingest.py:150-207 analog), parse, assemble."""
    if is_pdf(payload):
        chunks = pdf_pages_to_chunks(parse_pdf(payload))
        return assemble(url, chunks, parser="pdf")
    html = decode_html_payload(payload)
    return assemble(url, html_to_chunks(html), parser="html")


def extract_document_json(url: str, payload: bytes) -> str:
    """Canonical JSON line for one document — THE byte-identity surface."""
    rec = extract_document(url, payload)
    return encode_doc(rec["url"], rec["text"], rec["spans"], rec["meta"])
