"""From-scratch HTML main-content extractor (stdlib ``html.parser`` only —
lxml/bs4/trafilatura are absent in this container, SURVEY.md §7).

Implements the north_star's "text-density and link-density boilerplate
scoring (Boilerpipe/trafilatura-style heuristics over a node-feature table)":
the tokenizer lowers a page to a flat block-feature list (tag class, text
length, link-char length, container context), then a scoring pass drops
boilerplate blocks (chrome containers, link-dense short blocks).

Chunk-tag vocabulary deliberately mirrors the reference's llmsherpa tags
("header", "para", "list_item", "table", "table_row") so the ordered
substring tag→ChunkType map (/root/reference/src/ingest.py:32-39,118-124)
is applied verbatim downstream (operators/chunk_types.py).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html import unescape as _unescape
from html.parser import HTMLParser

# HTML tag → llmsherpa-style chunk tag
_BLOCK_TAGS: dict[str, str] = {
    "h1": "header", "h2": "header", "h3": "header",
    "h4": "header", "h5": "header", "h6": "header",
    "p": "para",
    "li": "list_item",
    "tr": "table_row",
    "caption": "table",
    "blockquote": "para",
    "pre": "para",
    "title": None,  # metadata only; never content
}

# containers whose whole subtree is page chrome
_CHROME = {"nav", "header", "footer", "aside", "script", "style", "head"}

# structural containers tracked for DOM-subtree density scoring
# (readability/Boilerpipe family: a subtree dominated by link text is
# boilerplate even when its individual blocks — e.g. the "Related posts"
# header above a link list — would pass the per-block rule)
_CONTAINERS = {"div", "section", "article", "main", "ul", "ol", "table"}

LINK_DENSITY_MAX = 0.4  # blocks above this (and short) are boilerplate
LINK_DENSE_MIN_WORDS = 25  # long blocks survive even if link-dense
SUBTREE_LINK_DENSITY_MAX = 0.5  # container subtrees above this are chrome

_CELL_SEP = " | "  # canonical cell separator in reconstructed table rows


@dataclass
class HtmlBlock:
    """One row of the node-feature table."""

    tag: str  # llmsherpa-style: header/para/list_item/table/table_row
    level: int | None  # header level (h1→1 …), else None
    text: str
    link_chars: int = 0
    total_chars: int = 0
    in_chrome: bool = False
    path: tuple[int, ...] = ()  # enclosing container ids, outermost first
    cells: tuple[str, ...] = ()  # table_row: reconstructed cell texts
    # table_row: declared column widths from <colgroup>/<col> (normalized
    # tokens: "120", "20%", "50px", "" when unspecified), expanded by span
    col_widths: tuple[str, ...] = ()

    @property
    def link_density(self) -> float:
        return self.link_chars / self.total_chars if self.total_chars else 0.0

    @property
    def word_count(self) -> int:
        return len(self.text.split())


_CELL_MARK = "\x00"  # in-buffer cell boundary, split out at flush

# media-carrying tags whose src/srcset attributes are collected (the
# <picture>/<source>/srcset responsive-image surface a training-data
# pipeline mines for image-text pairs)
_MEDIA_TAGS = ("img", "source", "video", "audio")


_STYLE_WIDTH = re.compile(r"(?:^|;)\s*width\s*:\s*([^;]+)")


def _col_width(attrs) -> str:
    """Declared column width of a <col>/<colgroup>: the legacy ``width``
    attribute (HTML4 §11.2.4: pixels, "N%", or "N*" relative) or a
    ``style`` width declaration, normalized to a lowercase token with
    whitespace stripped; "" when unspecified."""
    style = None
    for k, v in attrs:
        if k == "width" and v and v.strip():
            return "".join(v.split()).lower()
        if k == "style":
            style = v
    if style:
        m = _STYLE_WIDTH.search(style)
        if m:
            return "".join(m.group(1).split()).lower()
    return ""


def _span(attrs, key: str, cap: int) -> int:
    """td/th colspan/rowspan attribute as a clamped int (HTML spec caps:
    colspan 1000, rowspan 65534 — we clamp rowspan harder as carry-down
    state is per-table memory). Invalid/missing -> 1."""
    for k, v in attrs:
        if k == key and v:
            try:
                return max(1, min(int(v.strip()), cap))
            except ValueError:
                return 1
    return 1


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[HtmlBlock] = []
        self._chrome_depth = 0
        self._link_depth = 0
        self._cur: HtmlBlock | None = None
        self._buf: list[str] = []
        self._link_buf_chars = 0
        self._n_containers = 0
        self._cstack: list[int] = []
        # (colspan, rowspan) per td/th mark of the open row
        self._cell_meta: list[tuple[int, int]] = []
        # one dict per open <table>: column index -> [text, rows_remaining]
        # (carry-down state for rowspan grid expansion)
        self._table_stack: list[dict[int, list]] = []
        # rows suspended at a nested <table> (resumed at its </table>)
        self._row_suspend: list[tuple] = []
        # one width list per open <table>, fed by <colgroup>/<col>
        self._table_cols: list[list[str]] = []
        # pending <colgroup width span>: applies only if no <col> children
        # arrive before it closes (HTML4 §11.2.4.1)
        self._colgroup: tuple[str, int, int] | None = None
        # media references in document order: (kind, url)
        self.media: list[tuple[str, str]] = []
        # <meta name=robots> content values in document order
        self.meta_robots: list[str] = []
        # (href, anchor_text) pairs in document order
        self.links: list[tuple[str, str]] = []
        self._anchor_href: str | None = None
        self._anchor_buf: list[str] = []

    def _flush(self) -> None:
        if self._cur is None:
            return
        text = "".join(self._buf)
        if self._cur.tag == "table_row":
            # reconstruct cell structure from td/th boundaries, expanding
            # colspan across columns and carrying rowspan text down into
            # subsequent rows (pandas.read_html-style grid expansion; the
            # reference's layout service returns a real cell grid,
            # /root/reference/src/ingest.py:163-179)
            segs = text.split(_CELL_MARK)[1:]
            meta = self._cell_meta
            pending = self._table_stack[-1] if self._table_stack else None
            grid: list[str] = []
            consumed: set[int] = set()
            col = 0

            def place_pending() -> None:
                nonlocal col
                while pending is not None and col in pending:
                    grid.append(pending[col][0])
                    consumed.add(col)
                    pending[col][1] -= 1
                    if pending[col][1] <= 0:
                        del pending[col]
                    col += 1

            for i, seg in enumerate(segs):
                cs, rs = meta[i] if i < len(meta) else (1, 1)
                cell = " ".join(seg.split())
                for _ in range(cs):
                    # a carry may occupy a column inside this colspan run;
                    # emit it so it is consumed, not aged away silently
                    place_pending()
                    if rs > 1 and pending is not None:
                        pending[col] = [cell, rs - 1]
                        consumed.add(col)
                    grid.append(cell)
                    col += 1
            place_pending()
            if pending is not None:  # short row: unconsumed carries age too
                for c in list(pending):
                    if c not in consumed:
                        pending[c][1] -= 1
                        if pending[c][1] <= 0:
                            del pending[c]
            cells = tuple(c for c in grid if c)
            self._cur.cells = cells
            if self._table_cols and self._table_cols[-1]:
                self._cur.col_widths = tuple(self._table_cols[-1])
            self._cur.text = _CELL_SEP.join(cells)
        else:
            self._cur.text = " ".join(text.replace(_CELL_MARK, " ").split())
        self._cur.total_chars = len(self._cur.text)
        self._cur.link_chars = min(self._link_buf_chars, self._cur.total_chars)
        if self._cur.text:
            self.blocks.append(self._cur)
        self._cur = None
        self._buf = []
        self._link_buf_chars = 0
        self._cell_meta = []

    def _close_colgroup(self) -> None:
        """Apply a pending <colgroup span width> if no <col> children
        arrived while it was open (HTML4 §11.2.4.1 semantics)."""
        if self._colgroup is not None and self._table_cols:
            width, span, n0 = self._colgroup
            if len(self._table_cols[-1]) == n0:
                self._table_cols[-1].extend([width] * span)
        self._colgroup = None

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _CHROME:
            self._chrome_depth += 1
        if tag == "a":
            self._link_depth += 1
            if self._anchor_href is None:  # outermost <a> wins on nesting
                href = next((v for k, v in attrs if k == "href"), None)
                if href:
                    self._anchor_href = href
                    self._anchor_buf = []
        if tag == "meta":
            name = content = None
            for k, v in attrs:
                if k == "name":
                    name = (v or "").lower()
                elif k == "content":
                    content = v
            if name == "robots" and content is not None:
                self.meta_robots.append(content)
        if tag in _MEDIA_TAGS:
            src = srcset = None
            for k, v in attrs:
                if k == "src":
                    src = v
                elif k == "srcset":
                    srcset = v
            if src:
                self.media.append((tag, src))
            if srcset:
                for cand in srcset.split(","):
                    url = cand.split()[0] if cand.split() else ""
                    if url:
                        self.media.append((tag, url))
        if tag == "table":
            if self._cur is not None and self._cur.tag == "table_row":
                # nested table inside a cell: suspend the outer row, emit
                # the inner rows as their own blocks, resume at </table>
                self._row_suspend.append((
                    self._cur, self._buf, self._link_buf_chars,
                    self._cell_meta, len(self._table_stack),
                ))
                self._cur, self._buf = None, []
                self._link_buf_chars, self._cell_meta = 0, []
            self._table_stack.append({})
            self._table_cols.append([])
        if tag == "colgroup" and self._table_cols:
            self._colgroup = (
                _col_width(attrs),
                _span(attrs, "span", 1000),
                len(self._table_cols[-1]),
            )
        if tag == "col" and self._table_cols:
            self._table_cols[-1].extend(
                [_col_width(attrs)] * _span(attrs, "span", 1000)
            )
        if tag in ("tr", "thead", "tbody", "tfoot"):
            # a row group starting implies any open <colgroup> has closed
            # (tolerant of the omitted </colgroup> real pages use)
            self._close_colgroup()
        if tag in ("td", "th") and self._cur is not None:
            if self._cur.tag == "table_row":
                self._buf.append(_CELL_MARK)
                self._cell_meta.append(
                    (_span(attrs, "colspan", 1000), _span(attrs, "rowspan", 512))
                )
            else:
                self._buf.append(" ")
        elif tag == "br" and self._cur is not None:
            self._buf.append(" ")
        if tag in _CONTAINERS:
            self._cstack.append(self._n_containers)
            self._n_containers += 1
        if tag in _BLOCK_TAGS and _BLOCK_TAGS[tag] is not None:
            self._flush()
            level = int(tag[1]) if tag[0] == "h" and tag[1].isdigit() else None
            self._cur = HtmlBlock(
                tag=_BLOCK_TAGS[tag],
                level=level,
                text="",
                in_chrome=self._chrome_depth > 0,
                path=tuple(self._cstack),
            )

    def handle_endtag(self, tag: str) -> None:
        if tag in _CHROME and self._chrome_depth > 0:
            self._chrome_depth -= 1
        if tag == "a" and self._link_depth > 0:
            self._link_depth -= 1
            if self._link_depth == 0 and self._anchor_href is not None:
                self.links.append(
                    (self._anchor_href, " ".join("".join(self._anchor_buf).split()))
                )
                self._anchor_href = None
                self._anchor_buf = []
        if tag in _CONTAINERS and self._cstack:
            self._cstack.pop()  # tolerant: unbalanced HTML pops the nearest
        if tag == "colgroup":
            self._close_colgroup()
        if tag == "table":
            self._flush()  # close an unterminated inner row
            if self._table_stack:
                self._table_stack.pop()
            if self._table_cols:
                self._table_cols.pop()
            if (
                self._row_suspend
                and self._row_suspend[-1][4] == len(self._table_stack)
            ):
                (self._cur, self._buf, self._link_buf_chars,
                 self._cell_meta, _) = self._row_suspend.pop()
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._anchor_href is not None:
            self._anchor_buf.append(data)
        if self._cur is not None:
            self._buf.append(data)
            if self._link_depth > 0:
                self._link_buf_chars += len(" ".join(data.split()))


def parse_html_blocks_stdlib(html: str) -> list[HtmlBlock]:
    """Reference tokenizer: stdlib html.parser driving the block sink."""
    p = _BlockParser()
    p.feed(html)
    p.close()  # deliver buffered incomplete constructs (unterminated rawtext)
    p._flush()
    return p.blocks


# ---------------------------------------------------------------------------
# fast tokenizer (regex scan) — same block-state machine driven directly,
# ~1.8× the stdlib parser's throughput (tokenization is ~96% of the HTML
# path). Differentially tested against parse_html_blocks_stdlib on the whole
# synthetic corpus and on generated HTML (tests/test_html_fast.py); any
# exception falls back to the stdlib path.
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"<!--.*?(?:-->|$)"  # comment
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"  # cdata
    r"|<[!?][^>]*>?"  # doctype / pi
    # end tags mirror html.parser's two-path parse exactly:
    r"|</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"  # strict end (g1; ws allowed)
    r"|</([a-zA-Z][^\t\n\r\f />\x00]*)[^>]*>"  # tolerant end (g2; name may
    #   contain junk like 'li<', NO leading ws, consumes to the first '>')
    r"|</[^>]*>"  # bogus end (</>, </3>, </ x>): consumed, emits nothing
    # (start tags are handled OUTSIDE this regex — see _parse_start, which
    # replicates html.parser's parse_starttag decision procedure verbatim)
    r"|[^<]+"  # text
    r"|<",  # stray '<' (incl. unterminated '</...' at EOF via fallthrough)
    re.S,
)

# html.parser's own tolerant tag machinery — reused directly so the fast
# scanner's start-tag decisions are identical BY CONSTRUCTION (mutation
# fuzzing found hand-rolled approximations diverging on quote/junk edges)
import html.parser as _hp  # noqa: E402

_LOCATE_START = _hp.locatestarttagend_tolerant
_TAGFIND = _hp.tagfind_tolerant
_ATTRFIND = _hp.attrfind_tolerant


def _parse_start(
    html: str, i: int
) -> tuple[str, str | None, bool, int, tuple]:
    """Replicates HTMLParser.check_for_whole_start_tag + parse_starttag for
    a '<letter…' at i, with the whole document in hand (EOF == buffer end).
    → (kind, name, selfclosing, next_pos, attrs); kind ∈ {tag, data,
    incomplete}. For kind='data'/'incomplete' the span [i:next_pos) is
    character data. attrs are collected ONLY for td/th (the one tag class
    whose attributes the block sink reads — colspan/rowspan geometry);
    every other tag returns () to keep the hot path allocation-free."""
    m = _LOCATE_START.match(html, i)
    j = m.end()
    nxt = html[j : j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/":
        if html.startswith("/>", j):
            endpos = j + 2
        else:
            endpos = -1  # '/' at buffer end → incomplete
    elif nxt == "" or nxt in (
        "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    ):
        endpos = -1  # end of input in/before attribute value
    else:
        endpos = j if j > i else i + 1
        return "data", None, False, endpos, ()  # bogus input → data span
    if endpos < 0:
        # incomplete at EOF: goahead(end=1) emits data through the next '>'
        # (inclusive), else up to the next '<', else one char — then resumes
        k = html.find(">", i + 1)
        if k < 0:
            k = html.find("<", i + 1)
            if k < 0:
                k = i + 1
        else:
            k += 1
        return "incomplete", None, False, k, ()
    tm = _TAGFIND.match(html, i + 1)
    name = tm.group(1).lower()
    k = tm.end()
    collect = name in (
        "td", "th", "img", "source", "video", "audio", "meta", "a",
        "col", "colgroup",
    )
    attrs: list | tuple = [] if collect else ()
    while k < endpos:  # consume attributes exactly like parse_starttag
        am = _ATTRFIND.match(html, k)
        if not am:
            break
        if collect:
            aname, rest, avalue = am.group(1, 2, 3)
            if not rest:
                avalue = None
            elif (
                avalue[:1] == "'" == avalue[-1:]
                or avalue[:1] == '"' == avalue[-1:]
            ):
                avalue = avalue[1:-1]
            if avalue and "&" in avalue:
                avalue = _unescape(avalue)
            attrs.append((aname.lower(), avalue))
        k = am.end()
    end = html[k:endpos].strip()
    if end not in (">", "/>"):
        return "data", None, False, endpos, ()  # junk inside tag → data span
    return "tag", name, end.endswith("/>"), endpos, attrs

_RAWTEXT = {"script", "style"}


def parse_html_blocks_fast(html: str) -> list[HtmlBlock]:
    p = _BlockParser()
    _drive_fast(html, p)
    return p.blocks


def _drive_fast(html: str, p: "_BlockParser") -> None:
    start, end, data = p.handle_starttag, p.handle_endtag, p.handle_data
    unescape_needed = "&" in html
    pos, n = 0, len(html)
    while pos < n:
        # start tags take the stdlib-identical decision path
        if (
            html[pos] == "<"
            and pos + 1 < n
            and ("a" <= html[pos + 1] <= "z" or "A" <= html[pos + 1] <= "Z")
        ):
            kind, name, selfclosing, nxt, attrs = _parse_start(html, pos)
            if kind != "tag":
                tok = html[pos:nxt]
                if unescape_needed and "&" in tok:
                    tok = _unescape(tok)
                data(tok)
                pos = nxt
                continue
            pos = nxt
            start(name, attrs)
            if selfclosing:
                end(name)
            elif name in _RAWTEXT:
                # CDATA content mode: raw until the matching end tag
                em = re.compile(rf"</\s*{name}", re.I).search(html, pos)
                if em is None:
                    pos = n  # unterminated rawtext: stdlib drops the content
                else:
                    data(html[pos : em.start()])
                    gt = html.find(">", em.start())
                    pos = n if gt < 0 else gt + 1
                    end(name)
            continue
        m = _TOKEN_RE.match(html, pos)
        if m is None:  # cannot happen (last alternatives cover everything)
            data(html[pos:])
            break
        tok = m.group(0)
        pos = m.end()
        c0 = tok[0]
        if c0 != "<":
            if unescape_needed and "&" in tok:
                tok = _unescape(tok)
            data(tok)
            continue
        if m.group(1) is not None or m.group(2) is not None:  # end tag
            end((m.group(1) or m.group(2)).lower())
            continue
        # comments / doctype / cdata / bogus end tag: html.parser emits
        # nothing for these; a stray '<' becomes data
        if tok == "<":
            data("<")
    p._flush()


def _tokenized(html: str) -> "_BlockParser":
    """The block state machine driven over ``html``: by the fast tokenizer,
    or, on any exception, afresh by stdlib html.parser."""
    try:
        p = _BlockParser()
        _drive_fast(html, p)
    except Exception:
        p = _BlockParser()
        p.feed(html)
        p.close()
        p._flush()
    return p


def extract_media_refs(html: str) -> list[tuple[str, str]]:
    """(kind, url) media references in document order: img/video/audio src
    plus every srcset candidate (img and <picture><source>)."""
    return _tokenized(html).media


def extract_links(html: str) -> list[tuple[str, str]]:
    """(href, whitespace-normalized anchor text) in document order — the
    link-graph mining step (anchor text is a classic relevance/quality
    signal; hrefs feed host-level graph statistics). Nested <a> keeps the
    outermost href."""
    return _tokenized(html).links


def robots_noindex(html: str) -> bool:
    """True when any <meta name=robots> directive contains a `noindex`
    token (comma/space separated, case-insensitive) — the standard
    crawl-pipeline exclusion check."""
    for content in _tokenized(html).meta_robots:
        toks = {t.strip().lower() for t in content.replace(",", " ").split()}
        if "noindex" in toks:
            return True
    return False


def parse_html_blocks(html: str) -> list[HtmlBlock]:
    """Tokenize a page into the flat block-feature table (document order).

    Fast regex scanner by default (same state machine as the stdlib path);
    stdlib html.parser as the safety net on any exception."""
    return _tokenized(html).blocks


def is_boilerplate(b: HtmlBlock) -> bool:
    """Link/structure-based boilerplate verdict for one block."""
    if b.in_chrome:
        return True
    if b.link_density > LINK_DENSITY_MAX and b.word_count < LINK_DENSE_MIN_WORDS:
        return True
    return False


def subtree_boilerplate_ids(blocks: list[HtmlBlock]) -> set[int]:
    """DOM-subtree density scoring (readability/Boilerpipe family, public):
    container ids whose aggregate text is link-dominated AND hold no
    substantial block. Catches what the per-block rule can't: the non-linky
    header/intro sitting inside a related-links box inherits its subtree's
    verdict."""
    agg: dict[int, list[int]] = {}  # cid -> [text_chars, link_chars, max_words]
    for b in blocks:
        if b.in_chrome:
            continue  # chrome already handled; don't skew container stats
        for cid in b.path:
            a = agg.setdefault(cid, [0, 0, 0])
            a[0] += b.total_chars
            a[1] += b.link_chars
            a[2] = max(a[2], b.word_count)
    return {
        cid
        for cid, (t, l, mw) in agg.items()
        if t > 0 and l / t > SUBTREE_LINK_DENSITY_MAX and mw < LINK_DENSE_MIN_WORDS
    }


def extract_main_blocks(html: str) -> list[HtmlBlock]:
    """Main-content blocks in document order: chrome subtrees, link-dense
    short blocks, and link-dominated container subtrees dropped."""
    blocks = parse_html_blocks(html)
    bad_subtrees = subtree_boilerplate_ids(blocks)
    return [
        b
        for b in blocks
        if not is_boilerplate(b) and not (bad_subtrees and set(b.path) & bad_subtrees)
    ]
