"""From-scratch PDF layout parser (stdlib only — no pymupdf/pypdf in the
container, SURVEY.md §7).

Replaces the reference's two external parse paths with deterministic local
code:
- LLMSherpa layout service (/root/reference/src/ingest.py:163, chunk tree
  with tag/level/page_idx) → content-stream tokenizer + XY-cut blocks here.
- GPT-4o vision for rotated/landscape pages (ingest.py:72-115) → the same
  tokenizer with a rotation coordinate transform; rotation *detection*
  reproduces `page.rotation in (90, 270)` (ingest.py:47-54).

Supported subset (co-evolved with synth/pdf_writer.py but written against the
public PDF 1.7 spec structure): xref table + trailer (with tolerant
object-scan fallback), indirect objects, dicts/arrays/names/strings/hex
strings, FlateDecode streams, page tree with attribute inheritance, /Rotate,
/ToUnicode CMaps (bfchar + bfrange), and text operators
BT/ET/Tf/Td/TD/Tm/T*/TL/Tj/TJ/'/".

Pure functions end-to-end: bytes in → pages of blocks out. No I/O, no
global state — safe to call from `mapInPandas` workers.
"""

from __future__ import annotations

import bisect
import re
import zlib
from dataclasses import dataclass, field

from . import pdf_crypt


# ---------------------------------------------------------------------------
# Object-level lexer/parser
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_WS_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+")
_NAME_RE = re.compile(rb"/((?:[^\x00\t\n\x0c\r ()<>\[\]{}/%])*)")


class Ref(int):
    """Indirect object reference (object number; generation ignored)."""


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        # manual scan fast path (r7): the common case is zero or one space
        # between tokens — two int compares beat a regex-engine call; the
        # regex handles the rare comment ('%') runs exactly as before
        d = self.data
        p = self.pos
        n = len(d)
        while p < n:
            c = d[p]
            if c == 32 or c == 10 or c == 13 or c == 9 or c == 0 or c == 12:
                p += 1
            elif c == 37:  # '%' comment — defer to the regex for the run
                m = _WS_RE.match(d, p)
                p = m.end()
            else:
                break
        self.pos = p

    def parse_object(self):
        self._skip_ws()
        d = self.data
        p = self.pos
        # int dispatch on the first byte (r7): avoids per-token byte-slice
        # allocations on the hottest call in the parser
        c = d[p] if p < len(d) else -1
        if c == 0x3C:  # '<'
            if d[p : p + 2] == b"<<":
                return self._parse_dict()
            return self._parse_hex_string()
        if c == 0x28:  # '('
            return self._parse_string()
        if c == 0x5B:  # '['
            return self._parse_array()
        if c == 0x2F:  # '/'
            return self._parse_name()
        if c == 0x74 and d[p : p + 4] == b"true":
            self.pos += 4
            return True
        if c == 0x66 and d[p : p + 5] == b"false":
            self.pos += 5
            return False
        if c == 0x6E and d[p : p + 4] == b"null":
            self.pos += 4
            return None
        m = _NUM_RE.match(d, p)
        if m:
            # lookahead for "<num> <gen> R" reference form
            save = self.pos
            self.pos = m.end()
            tok = m.group()
            if b"." not in tok:
                self._skip_ws()
                m2 = _NUM_RE.match(d, self.pos)
                if m2 and b"." not in m2.group():
                    after = self.pos
                    self.pos = m2.end()
                    self._skip_ws()
                    if d[self.pos : self.pos + 1] == b"R" and (
                        self.pos + 1 >= len(d)
                        or d[self.pos + 1 : self.pos + 2] in _WS + _DELIM
                    ):
                        self.pos += 1
                        return Ref(int(tok))
                    self.pos = after
                self.pos = m.end()
                return int(tok)
            return float(tok)
        raise ValueError(f"cannot parse object at {p}: {d[p:p+20]!r}")

    def _parse_name(self) -> str:
        m = _NAME_RE.match(self.data, self.pos)
        self.pos = m.end()
        raw = m.group(1)
        if b"#" in raw:  # hex-escaped name chars (rare)
            out = bytearray()
            i = 0
            while i < len(raw):
                if raw[i : i + 1] == b"#" and i + 2 < len(raw) + 1:
                    try:
                        out += bytes([int(raw[i + 1 : i + 3], 16)])
                        i += 3
                        continue
                    except ValueError:
                        pass
                out += raw[i : i + 1]
                i += 1
            raw = bytes(out)
        return "/" + raw.decode("latin-1")

    def _parse_string(self) -> bytes:
        d = self.data
        p = self.pos + 1
        # fast path: no escapes/nesting before the closing paren
        close = d.find(b")", p)
        if close >= 0:
            seg = d[p:close]
            if b"\\" not in seg and b"(" not in seg:
                self.pos = close + 1
                return seg
        depth = 1
        out = bytearray()
        while p < len(d):
            c = d[p]
            if c == 0x5C:  # backslash
                nxt = d[p + 1]
                esc = {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b", 0x66: b"\f"}
                if nxt in esc:
                    out += esc[nxt]
                    p += 2
                elif 0x30 <= nxt <= 0x37:  # octal
                    oct_digits = d[p + 1 : p + 4]
                    k = 1
                    while k < 3 and k < len(oct_digits) and 0x30 <= oct_digits[k] <= 0x37:
                        k += 1
                    out += bytes([int(d[p + 1 : p + 1 + k], 8) & 0xFF])
                    p += 1 + k
                elif nxt == 0x0A:
                    p += 2  # line continuation
                else:
                    out += bytes([nxt])
                    p += 2
            elif c == 0x28:
                depth += 1
                out += b"("
                p += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    p += 1
                    break
                out += b")"
                p += 1
            else:
                out += bytes([c])
                p += 1
        self.pos = p
        return bytes(out)

    def _parse_hex_string(self) -> bytes:
        d = self.data
        end = d.find(b">", self.pos)
        hexs = re.sub(rb"\s", b"", d[self.pos + 1 : end])
        if len(hexs) % 2:
            hexs += b"0"
        self.pos = end + 1
        return bytes.fromhex(hexs.decode("ascii"))

    def _parse_array(self) -> list:
        self.pos += 1
        out = []
        while True:
            self._skip_ws()
            if self.data[self.pos : self.pos + 1] == b"]":
                self.pos += 1
                return out
            out.append(self.parse_object())

    def _parse_dict(self) -> dict:
        self.pos += 2
        out: dict[str, object] = {}
        while True:
            self._skip_ws()
            if self.data[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self.parse_object()
            val = self.parse_object()
            if isinstance(key, str):
                out[key] = val


@dataclass
class _Stream:
    dict: dict
    raw: bytes
    num: int | None = None  # owning object number (per-object decryption key)
    gen: int = 0  # generation number (Algorithm 1 key derivation uses it)


def _lzw_decode(data: bytes) -> bytes:
    """LZWDecode (PDF flavor: 8-bit codes grown 9→12 bits, EarlyChange=1,
    256=clear, 257=EOD) — TIFF/PDF LZW per the public spec."""
    CLEAR, EOD = 256, 257
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None
    width = 9
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == CLEAR:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                prev = None
                width = 9
                continue
            if code == EOD:
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError("bad LZW stream")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            # EarlyChange=1: widen one code early
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _rle_decode(data: bytes) -> bytes:
    """RunLengthDecode: <n<128: copy n+1 literal bytes; n>128: repeat next
    byte 257-n times; 128: EOD."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        if n == 128:
            break
        if n < 128:
            out += data[i + 1 : i + 2 + n]
            i += 2 + n
        else:
            out += data[i + 1 : i + 2] * (257 - n)
            i += 2
    return bytes(out)


def _ascii_hex_decode(data: bytes) -> bytes:
    body = data.split(b">", 1)[0]
    hexs = re.sub(rb"\s", b"", body)
    if len(hexs) % 2:
        hexs += b"0"
    return bytes.fromhex(hexs.decode("ascii"))


def _ascii85_decode(data: bytes) -> bytes:
    import base64

    body = data.split(b"~>", 1)[0]
    body = re.sub(rb"\s", b"", body)
    return base64.a85decode(body, adobe=False)


def _png_unpredict(data: bytes, columns: int, colors: int = 1, bpc: int = 8) -> bytes:
    """Reverse PNG row predictors (None/Sub/Up/Average/Paeth) — used by
    FlateDecode with /Predictor ≥ 10 (common in xref/object streams)."""
    bpp = max(1, (colors * bpc) // 8)
    row_len = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    while pos + 1 + row_len <= len(data):
        ftype = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + row_len])
        pos += 1 + row_len
        if ftype == 1:  # Sub
            for i in range(bpp, row_len):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(row_len):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(row_len):
                a = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(row_len):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


# ---------------------------------------------------------------------------
# Document structure
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")

# PDFDocEncoding (ISO 32000-1 Annex D.2) equals Latin-1 except these code
# points; str.translate map applied after a latin-1 decode (ADVICE r3:
# e.g. byte 0x83 is U+2026 HORIZONTAL ELLIPSIS, not a C1 control).
# 0x7F/0x9F/0xAD are undefined in PDFDocEncoding and left as-is.
_PDFDOC_DIVERGENT = {
    0x18: 0x02D8, 0x19: 0x02C7, 0x1A: 0x02C6, 0x1B: 0x02D9,
    0x1C: 0x02DD, 0x1D: 0x02DB, 0x1E: 0x02DA, 0x1F: 0x02DC,
    0x80: 0x2022, 0x81: 0x2020, 0x82: 0x2021, 0x83: 0x2026,
    0x84: 0x2014, 0x85: 0x2013, 0x86: 0x0192, 0x87: 0x2044,
    0x88: 0x2039, 0x89: 0x203A, 0x8A: 0x2212, 0x8B: 0x2030,
    0x8C: 0x201E, 0x8D: 0x201C, 0x8E: 0x201D, 0x8F: 0x2018,
    0x90: 0x2019, 0x91: 0x201A, 0x92: 0x2122, 0x93: 0xFB01,
    0x94: 0xFB02, 0x95: 0x0141, 0x96: 0x0152, 0x97: 0x0160,
    0x98: 0x0178, 0x99: 0x017D, 0x9A: 0x0131, 0x9B: 0x0142,
    0x9C: 0x0153, 0x9D: 0x0161, 0x9E: 0x017E, 0xA0: 0x20AC,
}


class PdfDocument:
    """Object access: a tolerant full scan discovers every `N G obj`
    occurrence (robust against broken xref); when a valid xref chain exists
    (classic tables and/or /Prev-linked sections), it decides WHICH
    occurrence of a multiply-defined object is live — this is the one case
    scanning alone gets wrong: an incremental update whose new xref points
    BACK at an older offset (a revert). Without a usable chain, the last
    occurrence wins (ordinary incremental-update semantics)."""

    def __init__(self, data: bytes, password: bytes = b""):
        self.data = data
        self._password = password
        self.objects: dict[int, object] = {}
        self._occurrences: dict[int, list[tuple[int, object, int]]] = {}
        self._root_ref: Ref | None = None  # newest trailer's /Root
        self._trailer: dict = {}  # newest-wins merge of the trailer chain
        self._file_key: bytes | None = None
        self._aes = False
        self._r6 = False  # AES-256 rev 5/6: file key used directly per object
        self._gens: dict[int, int] = {}  # live generation number per object
        self._enc_num: int | None = None  # /Encrypt dict's own object number
        self._scan_objects()
        self._apply_xref_chain()
        self._setup_encryption()  # BEFORE ObjStm expansion: containers may be encrypted
        self._decrypt_strings()  # §7.6.2: strings are encrypted too
        self._expand_object_streams()

    def _scan_objects(self) -> None:
        """Tolerant scan for `N G obj ... endobj` (more robust than strict
        xref walking for concatenated/incrementally-updated files; our own
        writer's xref is, of course, valid)."""
        for m in _OBJ_RE.finditer(self.data):
            num = int(m.group(1))
            gen = int(m.group(2))
            start_off = m.start()
            lex = _Lexer(self.data, m.end())
            try:
                obj = lex.parse_object()
            except Exception:
                continue
            # stream?
            lex._skip_ws()
            if isinstance(obj, dict) and self.data[lex.pos : lex.pos + 6] == b"stream":
                p = lex.pos + 6
                if self.data[p : p + 2] == b"\r\n":
                    p += 2
                elif self.data[p : p + 1] in (b"\n", b"\r"):
                    p += 1
                length = obj.get("/Length")
                if isinstance(length, Ref):
                    length = None  # resolve later; fall back to endstream scan
                if isinstance(length, int):
                    raw = self.data[p : p + length]
                else:
                    end = self.data.find(b"endstream", p)
                    raw = self.data[p:end].rstrip(b"\r\n")
                obj = _Stream(obj, raw, num, gen)
            self.objects[num] = obj
            self._gens[num] = gen
            self._occurrences.setdefault(num, []).append((start_off, obj, gen))

    # -- xref chain (classic tables; decides liveness on duplicates) -------

    def _parse_xref_table(
        self, pos: int
    ) -> tuple[dict[int, int], int | None, "Ref | None"]:
        """Parse one classic `xref` section at pos → (num→offset for in-use
        entries, /Prev offset or None, trailer /Root ref or None)."""
        live: dict[int, int] = {}
        lex = _Lexer(self.data, pos + 4)  # skip 'xref'
        while True:
            lex._skip_ws()
            m = re.compile(rb"(\d+)\s+(\d+)").match(self.data, lex.pos)
            if not m:
                break
            start, count = int(m.group(1)), int(m.group(2))
            lex.pos = m.end()
            lex._skip_ws()
            for i in range(count):
                entry = self.data[lex.pos : lex.pos + 20]
                if len(entry) < 18:
                    return live, None
                try:
                    off = int(entry[:10])
                    kind = entry[17:18]
                except ValueError:
                    return live, None
                if kind == b"n":
                    live[start + i] = off
                lex.pos += 20  # spec: every entry is exactly 20 bytes
        # trailer dict may carry /Prev, /Root, /Encrypt, /ID
        tpos = self.data.find(b"trailer", pos)
        prev = None
        tdict: dict = {}
        if tpos >= 0:
            try:
                tlex = _Lexer(self.data, tpos + 7)
                parsed = tlex.parse_object()
                if isinstance(parsed, dict):
                    tdict = parsed
                    if isinstance(tdict.get("/Prev"), int):
                        prev = tdict["/Prev"]
            except Exception:
                prev = None
        return live, prev, tdict

    def _parse_xref_stream(self, pos: int) -> tuple[dict[int, int], dict[int, tuple[int, int]], int | None]:
        """Parse a PDF 1.5 /Type /XRef stream at pos → (type-1 num→offset,
        type-2 num→(container objnum, index), /Prev or None)."""
        m = _OBJ_RE.match(self.data, pos)
        if not m:
            raise ValueError("no object at xref-stream offset")
        lex = _Lexer(self.data, m.end())
        d = lex.parse_object()
        if not isinstance(d, dict) or d.get("/Type") != "/XRef":
            raise ValueError("not an xref stream")
        lex._skip_ws()
        if self.data[lex.pos : lex.pos + 6] != b"stream":
            raise ValueError("xref stream body missing")
        p = lex.pos + 6
        if self.data[p : p + 2] == b"\r\n":
            p += 2
        elif self.data[p : p + 1] in (b"\n", b"\r"):
            p += 1
        length = d.get("/Length")
        raw = self.data[p : p + int(length)] if isinstance(length, int) else (
            self.data[p : self.data.find(b"endstream", p)].rstrip(b"\r\n")
        )
        data = self.stream_data(_Stream(d, raw))
        w = [int(x) for x in d.get("/W", [1, 1, 1])]
        size = int(d.get("/Size", 0))
        index = d.get("/Index", [0, size])
        rowlen = sum(w)

        def field(row: bytes, i: int) -> int:
            off = sum(w[:i])
            return int.from_bytes(row[off : off + w[i]], "big") if w[i] else (
                1 if i == 0 else 0  # omitted type field defaults to 1
            )

        offsets: dict[int, int] = {}
        in_stm: dict[int, tuple[int, int]] = {}
        rowpos = 0
        for k in range(0, len(index), 2):
            start, count = int(index[k]), int(index[k + 1])
            for i in range(count):
                row = data[rowpos : rowpos + rowlen]
                rowpos += rowlen
                if len(row) < rowlen:
                    break
                t = field(row, 0)
                if t == 1:
                    offsets[start + i] = field(row, 1)
                elif t == 2:
                    in_stm[start + i] = (field(row, 1), field(row, 2))
        prev = d.get("/Prev") if isinstance(d.get("/Prev"), int) else None
        return offsets, in_stm, prev, d

    def _apply_xref_chain(self) -> None:
        """Walk startxref → xref table or /Type /XRef stream (→ /Prev …);
        newest section wins per object. Type-1 entries make the occurrence
        AT that offset live (handles reverts); type-2 entries make the
        ObjStm-packed copy live (resolved in _expand_object_streams)."""
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", self.data):
            pass  # keep the LAST startxref (the newest update)
        if m is None:
            return
        live: dict[int, int] = {}
        self._live_in_objstm: dict[int, tuple[int, int]] = {}
        pos = int(m.group(1))
        for _ in range(16):  # bounded /Prev chain
            if not (0 <= pos < len(self.data)):
                return
            if self.data[pos : pos + 4] == b"xref":
                section, prev, tdict = self._parse_xref_table(pos)
                stm_section: dict[int, tuple[int, int]] = {}
            else:
                try:
                    section, stm_section, prev, tdict = self._parse_xref_stream(pos)
                except Exception:
                    return  # corrupt → keep tolerant scan semantics
            # newest-wins merge of the trailer chain; the NEWEST /Root names
            # the live catalog — an incremental update may install a
            # replacement catalog under a NEW object number (scan order
            # would keep serving the old one)
            for k, v in tdict.items():
                self._trailer.setdefault(k, v)
            if self._root_ref is None and isinstance(tdict.get("/Root"), Ref):
                self._root_ref = tdict["/Root"]
            for num, off in section.items():
                if num not in live and num not in self._live_in_objstm:
                    live[num] = off
            for num, loc in stm_section.items():
                if num not in live and num not in self._live_in_objstm:
                    self._live_in_objstm[num] = loc
            if prev is None:
                break
            pos = prev
        for num, off in live.items():
            occs = self._occurrences.get(num)
            if not occs or len(occs) == 1:
                continue
            for ooff, obj, ogen in occs:
                if ooff == off:
                    self.objects[num] = obj
                    self._gens[num] = ogen
                    break

    def _setup_encryption(self) -> None:
        """Standard security handler, empty user password (§7.6; the
        reference handles these via fitz.open, src/ingest.py:50). Sets
        self._file_key/_aes; raises on password-protected or unsupported
        schemes so the pipeline's per-doc guard records them as errors."""
        trailer = self._trailer
        if "/Encrypt" not in trailer:
            # tolerant path: xref chain unusable but the file may still be
            # encrypted — parse the LAST trailer dict by scan
            tpos = self.data.rfind(b"trailer")
            if tpos < 0:
                return
            try:
                t = _Lexer(self.data, tpos + 7).parse_object()
            except Exception:
                return
            if not isinstance(t, dict) or "/Encrypt" not in t:
                return
            for k, v in t.items():
                trailer.setdefault(k, v)
        enc_ref = trailer.get("/Encrypt")
        if isinstance(enc_ref, Ref):
            self._enc_num = int(enc_ref)  # its own strings are stored raw
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            return
        if enc.get("/Filter") != "/Standard":
            raise ValueError(f"unsupported security handler {enc.get('/Filter')}")
        v = int(self.resolve(enc.get("/V")) or 0)
        r = int(self.resolve(enc.get("/R")) or 2)
        key_len = int(self.resolve(enc.get("/Length")) or 40) // 8
        aes = False
        if v == 5:  # AES-256, revision 5 (legacy) or 6 (ISO 32000-2 §7.6.4)
            if r == 5:
                # plain single-pass SHA-256 derivation — NOT Algorithm 2.B;
                # running R5 entries through the hardened hash would
                # misreport a legitimately openable file as password-locked
                retrieve, verify = (
                    pdf_crypt.r5_retrieve_file_key,
                    pdf_crypt.r5_verify_user_password,
                )
                verify_owner, retrieve_owner = (
                    pdf_crypt.r5_verify_owner_password,
                    pdf_crypt.r5_retrieve_file_key_owner,
                )
            elif r == 6:
                retrieve, verify = (
                    pdf_crypt.r6_retrieve_file_key,
                    pdf_crypt.r6_verify_user_password,
                )
                verify_owner, retrieve_owner = (
                    pdf_crypt.r6_verify_owner_password,
                    pdf_crypt.r6_retrieve_file_key_owner,
                )
            else:
                raise ValueError(f"unsupported AES-256 revision /R {r}")
            u = enc.get("/U")
            ue = enc.get("/UE")
            if not isinstance(u, bytes) or not isinstance(ue, bytes) or len(u) < 48:
                raise ValueError("malformed AES-256 /Encrypt dict")
            perms = enc.get("/Perms")
            o5, oe5 = enc.get("/O"), enc.get("/OE")

            def try_pwd(pwd: bytes) -> "bytes | None":
                if isinstance(perms, bytes) and len(perms) >= 16:
                    # fast path: retrieve the key with ONE derivation pass
                    # and validate via /Perms (Algorithm 13) — a wrong
                    # password yields a garbage key failing the 'adb' check
                    k = retrieve(pwd, u, ue)
                    return k if pdf_crypt.r6_check_perms(k, perms) else None
                return retrieve(pwd, u, ue) if verify(pwd, u) else None

            key = try_pwd(b"")
            if key is None and self._password:
                key = try_pwd(self._password)  # user-password flow
            if (
                key is None
                and self._password
                and isinstance(o5, bytes)
                and isinstance(oe5, bytes)
                and len(o5) >= 48
                and verify_owner(self._password, o5, u)
            ):
                # owner-password flow (Algorithm 12/9; R5 single-pass analog)
                key = retrieve_owner(self._password, o5, oe5, u)
            if key is None:
                raise ValueError("encrypted document: user password required")
            self._file_key = key
            self._aes = True
            self._r6 = True
            return
        if v == 4:
            cf = self.resolve(enc.get("/CF")) or {}
            stdcf = self.resolve(cf.get("/StdCF")) if isinstance(cf, dict) else None
            cfm = (stdcf or {}).get("/CFM")
            if cfm == "/AESV2":
                aes = True
                key_len = 16
            elif cfm in ("/V2", None):
                aes = False
            elif cfm == "/Identity":
                return  # identity crypt filter: nothing to decrypt
            else:
                raise ValueError(f"unsupported crypt filter {cfm}")
        elif v not in (1, 2):
            raise ValueError(f"unsupported encryption /V {v}")
        o = enc.get("/O")
        u = enc.get("/U")
        p = int(self.resolve(enc.get("/P")) or -1)
        ids = trailer.get("/ID")
        id0 = ids[0] if isinstance(ids, list) and ids and isinstance(ids[0], bytes) else b""
        if not isinstance(o, bytes) or not isinstance(u, bytes):
            raise ValueError("malformed /Encrypt dict")
        meta = self.resolve(enc.get("/EncryptMetadata"))
        em = True if meta is None else bool(meta)

        def classic_key(pwd: bytes) -> "bytes | None":
            k = pdf_crypt.compute_file_key(
                pwd, o, p, id0, r, key_len, encrypt_metadata=em
            )
            return k if pdf_crypt.user_password_matches(u, k, id0, r) else None

        key = classic_key(b"")
        if key is None and self._password:
            key = classic_key(self._password)  # user-password flow
        if key is None and self._password:
            # owner-password flow (Algorithm 7): decrypt /O back to the
            # padded user password, then run the standard user flow
            recovered = pdf_crypt.recover_user_password(
                self._password, o, r, key_len
            )
            key = classic_key(recovered)
        if key is None:
            raise ValueError("encrypted document: user password required")
        self._file_key = key
        self._aes = aes

    def _expand_object_streams(self) -> None:
        """PDF 1.5 /ObjStm: decompress and register the packed objects
        (header = N pairs of 'objnum offset', payload starts at /First).
        Objects the xref chain marked live-in-objstm OVERRIDE direct
        occurrences; otherwise direct objects win (tolerant policy)."""
        live_stm = getattr(self, "_live_in_objstm", {})
        for obj in list(self.objects.values()):
            if not isinstance(obj, _Stream) or obj.dict.get("/Type") != "/ObjStm":
                continue
            try:
                data = self.stream_data(obj)
                n = int(self.resolve(obj.dict.get("/N")) or 0)
                first = int(self.resolve(obj.dict.get("/First")) or 0)
                header = data[:first].split()
                pairs = [
                    (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
                ]
                for num, off in pairs:
                    if num in self.objects and num not in live_stm:
                        continue  # direct objects win (tolerant policy)
                    lex = _Lexer(data, first + off)
                    self.objects[num] = lex.parse_object()
            except Exception:
                continue  # tolerate broken containers; direct objects remain

    def _decrypt_strings(self) -> None:
        """§7.6.2: strings in an encrypted document are encrypted with the
        same per-object key as streams (Algorithm 1 includes the generation
        number). Walk every directly-parsed object and decrypt bytes values
        in place. Runs BEFORE ObjStm expansion: packed objects are parsed
        from the already-decrypted container payload, so their strings are
        plaintext and must NOT be decrypted again. The /Encrypt dictionary
        itself is exempt (/O /U /UE /Perms are stored raw), as are /Type
        /XRef stream dicts (never encrypted)."""
        if self._file_key is None:
            return

        def dec(o, num: int, gen: int):
            if isinstance(o, bytes):
                try:
                    return pdf_crypt.decrypt_bytes(
                        o, self._file_key, num, gen, self._aes, self._r6
                    )
                except Exception:
                    return o  # tolerate malformed ciphertext (e.g. short AES)
            if isinstance(o, dict):
                for k, v in o.items():
                    o[k] = dec(v, num, gen)
                return o
            if isinstance(o, list):
                for i, v in enumerate(o):
                    o[i] = dec(v, num, gen)
                return o
            if isinstance(o, _Stream):
                dec(o.dict, num, gen)
                return o
            return o

        for num, obj in self.objects.items():
            if num == self._enc_num:
                continue
            if isinstance(obj, _Stream) and obj.dict.get("/Type") == "/XRef":
                continue
            self.objects[num] = dec(obj, num, self._gens.get(num, 0))

    def info(self) -> dict[str, str]:
        """Document information dictionary (trailer /Info) with string
        values decoded per §7.9.2.2: UTF-16BE with BOM, else PDFDocEncoding
        (≈ Latin-1 for the printable range). Encrypted files work because
        _decrypt_strings ran at parse time — the reference gets this free
        via fitz (/root/reference/src/ingest.py:50)."""
        ref = self._trailer.get("/Info")
        if ref is None:  # tolerant path: scan the last trailer dict
            tpos = self.data.rfind(b"trailer")
            if tpos >= 0:
                try:
                    t = _Lexer(self.data, tpos + 7).parse_object()
                    if isinstance(t, dict):
                        ref = t.get("/Info")
                except Exception:
                    pass
        d = self.resolve(ref)
        if not isinstance(d, dict):
            return {}
        out: dict[str, str] = {}
        for k, v in d.items():
            v = self.resolve(v)
            if isinstance(v, bytes):
                if v[:2] == b"\xfe\xff":
                    out[k] = v[2:].decode("utf-16-be", "replace")
                else:
                    out[k] = v.decode("latin-1").translate(_PDFDOC_DIVERGENT)
            elif isinstance(v, (str, int, float, bool)):
                out[k] = str(v)
        return out

    def resolve(self, obj):
        seen = 0
        while isinstance(obj, Ref) and seen < 32:
            obj = self.objects.get(int(obj))
            seen += 1
        return obj

    def stream_data(self, s: _Stream) -> bytes:
        filt = self.resolve(s.dict.get("/Filter"))
        data = s.raw
        # decryption precedes filters (§7.6.2); XRef streams are never
        # encrypted, and num=None streams are parser-internal constructions
        if (
            self._file_key is not None
            and s.num is not None
            and s.dict.get("/Type") != "/XRef"
        ):
            data = pdf_crypt.decrypt_bytes(
                data, self._file_key, s.num, s.gen, self._aes, self._r6
            )
        filters = filt if isinstance(filt, list) else ([filt] if filt else [])
        parms = self.resolve(s.dict.get("/DecodeParms"))
        parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
        for f, pm in zip(filters, parms_list):
            if f == "/FlateDecode":
                data = zlib.decompress(data)
            elif f in ("/LZWDecode", "/LZW"):
                data = _lzw_decode(data)
            elif f in ("/RunLengthDecode", "/RL"):
                data = _rle_decode(data)
            elif f in ("/ASCIIHexDecode", "/AHx"):
                data = _ascii_hex_decode(data)
            elif f in ("/ASCII85Decode", "/A85"):
                data = _ascii85_decode(data)
            elif f in ("/DCTDecode", "/DCT"):
                # ISO 32000-1 §7.4.8: data is a baseline JPEG; decoded
                # content is the raw image sample stream (row-major,
                # component-interleaved) — from-scratch codec, no PIL
                from ..multimodal.jpeg import jpeg_decode as _jd

                data = _jd(bytes(data)).tobytes()
            elif f in ("/CCITTFaxDecode", "/CCF"):
                # §7.4.6: G4 (K < 0) fax data; decoded content is packed
                # 1-bit rows padded to byte boundaries — from-scratch T.6
                # codec (multimodal/ccitt.py). Rows defaults to the image
                # /Height when DecodeParms omits it.
                from ..multimodal.ccitt import ccittfax_decode as _ccitt

                pm2 = self.resolve(pm) or {}
                rows = int(self.resolve(pm2.get("/Rows")) or 0)
                if not rows and s.dict.get("/Height") is not None:
                    rows = int(self.resolve(s.dict.get("/Height")))
                data = _ccitt(
                    bytes(data),
                    columns=int(self.resolve(pm2.get("/Columns")) or 1728),
                    rows=rows or None,
                    k=int(self.resolve(pm2.get("/K")) or 0),
                    black_is_1=bool(self.resolve(pm2.get("/BlackIs1"))),
                )
            elif f == "/JBIG2Decode":
                # §7.4.7: embedded JBIG2 segment stream (generic-region
                # subset, from-scratch T.88 codec in multimodal/jbig2.py);
                # decoded content is packed 1-bit byte-padded rows with
                # 0 = black, the same convention as /CCITTFaxDecode. An
                # optional /JBIG2Globals side stream is logically
                # prepended after its own filter chain is applied.
                from ..multimodal.jbig2 import jbig2_decode as _jb

                pm2 = self.resolve(pm) or {}
                gref = pm2.get("/JBIG2Globals")
                gdata = None
                if gref is not None:
                    gstream = self.resolve(gref)
                    gdata = self.stream_data(gstream)
                data = _jb(bytes(data), globals_data=gdata)
            elif f in (None,):
                pass
            else:
                raise ValueError(f"unsupported filter {f}")
            if f in ("/FlateDecode", "/LZWDecode", "/LZW"):
                pm = self.resolve(pm)
                if isinstance(pm, dict) and int(self.resolve(pm.get("/Predictor")) or 1) >= 10:
                    data = _png_unpredict(
                        data,
                        columns=int(self.resolve(pm.get("/Columns")) or 1),
                        colors=int(self.resolve(pm.get("/Colors")) or 1),
                        bpc=int(self.resolve(pm.get("/BitsPerComponent")) or 8),
                    )
        return data

    # -- page tree ---------------------------------------------------------

    def pages(self) -> list[dict]:
        # prefer the newest trailer's /Root: an incremental update can
        # install a replacement catalog under a NEW object number, leaving
        # the old catalog object intact for the scan heuristic to find
        root = None
        rooted = self.resolve(self._root_ref) if self._root_ref else None
        if isinstance(rooted, dict) and "/Pages" in rooted:
            root = rooted
        if root is None:  # fallback: first /Catalog in scan order
            for obj in self.objects.values():
                o = obj.dict if isinstance(obj, _Stream) else obj
                if isinstance(o, dict) and o.get("/Type") == "/Catalog":
                    root = o
                    break
        if root is None:
            raise ValueError("no /Catalog")
        out: list[dict] = []

        def walk(node_ref, inherited: dict):
            node = self.resolve(node_ref)
            if not isinstance(node, dict):
                return
            inh = dict(inherited)
            for k in ("/Resources", "/MediaBox", "/Rotate"):
                if k in node:
                    inh[k] = node[k]
            if node.get("/Type") == "/Pages":
                for kid in self.resolve(node.get("/Kids")) or []:
                    walk(kid, inh)
            elif node.get("/Type") == "/Page":
                page = dict(inh)
                page.update(node)
                out.append(page)

        walk(root.get("/Pages"), {})
        return out

    def uri_links(self) -> list[tuple[int, str]]:
        """(page_index, uri) for every /Subtype /Link annotation with a
        /URI action (§12.5.6.5 + §12.6.4.8), in page/annotation order —
        the PDF twin of the HTML link-graph extraction. URI byte strings
        decode like /Info text (UTF-16BE with BOM, else PDFDocEncoding)."""
        out: list[tuple[int, str]] = []
        for idx, page in enumerate(self.pages()):
            for aref in self.resolve(page.get("/Annots")) or []:
                annot = self.resolve(aref)
                if not isinstance(annot, dict) or annot.get("/Subtype") != "/Link":
                    continue
                action = self.resolve(annot.get("/A"))
                if not isinstance(action, dict) or action.get("/S") != "/URI":
                    continue
                uri = self.resolve(action.get("/URI"))
                if isinstance(uri, bytes):
                    if uri[:2] == b"\xfe\xff":
                        out.append((idx, uri[2:].decode("utf-16-be", "replace")))
                    else:
                        out.append(
                            (idx, uri.decode("latin-1").translate(_PDFDOC_DIVERGENT))
                        )
        return out

    def images(self) -> list[tuple[int, str, int, int, int, bytes]]:
        """(page_index, name, width, height, ncomp, pixel_bytes) for every
        /Subtype /Image XObject in page resources (§8.9.5) — the multimodal
        mining twin of uri_links(). pixel_bytes is the fully-decoded sample
        stream (stream_data applies the filter chain, incl. the from-scratch
        /DCTDecode baseline-JPEG codec); ncomp is derived from /ColorSpace
        (DeviceRGB=3, else 1). Undecodable images are skipped (poison
        tolerance, same policy as form XObjects)."""
        out: list[tuple[int, str, int, int, int, bytes]] = []
        for idx, page in enumerate(self.pages()):
            res = self.resolve(page.get("/Resources")) or {}
            xdict = self.resolve(res.get("/XObject")) or {}
            for name, xref in sorted(xdict.items()):
                xo = self.resolve(xref)
                if (
                    not isinstance(xo, _Stream)
                    or xo.dict.get("/Subtype") != "/Image"
                ):
                    continue
                try:
                    px = self.stream_data(xo)
                    w = int(self.resolve(xo.dict.get("/Width")))
                    h = int(self.resolve(xo.dict.get("/Height")))
                    bpc = int(
                        self.resolve(xo.dict.get("/BitsPerComponent")) or 8
                    )
                    if bpc == 1:
                        # bilevel (e.g. /CCITTFaxDecode): expand packed
                        # byte-padded rows to one 0/255 gray sample per
                        # pixel so every image yields a uniform sample
                        # stream
                        import numpy as _np

                        rowbytes = (w + 7) // 8
                        bits = _np.unpackbits(
                            _np.frombuffer(px, dtype=_np.uint8).reshape(
                                h, rowbytes
                            ),
                            axis=1,
                        )[:, :w]
                        px = (bits * _np.uint8(255)).tobytes()
                except Exception:
                    continue
                # ncomp from the DECODED sample count when it divides
                # cleanly (ADVICE r5: ICCBased/Indexed/array color spaces
                # made the /DeviceRGB test claim 1 for 3-component pixel
                # data); the /ColorSpace name is the fallback only
                ncomp = (
                    3
                    if self.resolve(xo.dict.get("/ColorSpace")) == "/DeviceRGB"
                    else 1
                )
                if w > 0 and h > 0 and len(px) % (w * h) == 0:
                    got = len(px) // (w * h)
                    if got in (1, 3, 4):
                        ncomp = got
                out.append((idx, name.lstrip("/"), w, h, ncomp, px))
        return out


# ---------------------------------------------------------------------------
# Fonts / ToUnicode CMap
# ---------------------------------------------------------------------------

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CODESPACE_RE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.S)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _hex_to_unicode(h: bytes) -> str:
    raw = bytes.fromhex(h.decode("ascii"))
    return raw.decode("utf-16-be", errors="replace")


class CMapTable:
    """code→unicode mapping: explicit bfchar dict + UNMATERIALIZED bfranges
    (bisect lookup, memoized) — a CID CMap can span tens of thousands of
    codes; only the codes a document actually uses should cost anything."""

    __slots__ = ("chars", "ranges", "_starts")

    def __init__(self, chars: dict[int, str], ranges: list[tuple[int, int, int]]):
        self.chars = chars
        self.ranges = sorted(ranges)
        self._starts = [r[0] for r in self.ranges]

    def get(self, code: int, default: str = "�") -> str:
        hit = self.chars.get(code)
        if hit is not None:
            return hit
        i = bisect.bisect_right(self._starts, code) - 1
        if i >= 0:
            lo, hi, base = self.ranges[i]
            if lo <= code <= hi:
                val = chr(base + (code - lo))
                self.chars[code] = val  # memoize
                return val
        return default

    def __getitem__(self, code: int) -> str:
        return self.get(code)


def parse_tounicode(cmap: bytes) -> tuple["CMapTable", int]:
    """Parse a ToUnicode CMap → (lookup table, code byte-width).

    Width comes from the codespacerange hex-digit length (<00> → 1 byte,
    <0000> → 2 bytes — Type0/Identity-H CID fonts); default 1."""
    chars: dict[int, str] = {}
    ranges: list[tuple[int, int, int]] = []
    code_bytes = 1
    for seg in _CODESPACE_RE.findall(cmap):
        toks = _HEX_RE.findall(seg)
        if toks:
            code_bytes = max(1, len(toks[0]) // 2)
    for seg in _BFCHAR_RE.findall(cmap):
        toks = _HEX_RE.findall(seg)
        for src, dst in zip(toks[0::2], toks[1::2]):
            chars[int(src, 16)] = _hex_to_unicode(dst)
    for seg in _BFRANGE_RE.findall(cmap):
        toks = _HEX_RE.findall(seg)
        for lo, hi, dst in zip(toks[0::3], toks[1::3], toks[2::3]):
            ranges.append((int(lo, 16), int(hi, 16), int(dst, 16)))
    return CMapTable(chars, ranges), code_bytes


# Adobe Glyph List subset (public AGL): ASCII letters name themselves; the
# punctuation/digit names below cover the simple-font /Differences fixtures.
# uniXXXX / uXXXX(XX) names are handled algorithmically in _glyph_to_unicode.
_AGL: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
}
_AGL.update({c: c for c in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"})

_UNI_GLYPH_RE = re.compile(r"uni([0-9A-Fa-f]{4})|u([0-9A-Fa-f]{4,6})")


def _glyph_to_unicode(name: str) -> str:
    """Glyph name → unicode char (AGL + the uniXXXX/uXXXXXX algorithm)."""
    if name in _AGL:
        return _AGL[name]
    m = _UNI_GLYPH_RE.fullmatch(name)
    if m:
        return chr(int(m.group(1) or m.group(2), 16))
    if len(name) == 1:
        return name
    return "\ufffd"


class Font:
    """ToUnicode-backed font. The CMap is parsed LAZILY on first decode —
    pages routinely declare fonts they never use (our fixture resources list
    F1/F2/F3 on every page), and a CID CMap materializes thousands of
    entries. Fonts WITHOUT a ToUnicode (notably /Type3) decode through an
    /Encoding /Differences glyph-name map when present (AGL names), with
    StandardEncoding ≈ latin-1 for unmapped codes — the reference gets all
    of this from PyMuPDF (/root/reference/src/ingest.py:50,135)."""

    def __init__(
        self,
        cmap: dict[int, str] | None = None,
        code_bytes: int = 1,
        raw_cmap: bytes | None = None,
        diff_map: dict[int, str] | None = None,
    ):
        self.cmap = cmap
        self.code_bytes = code_bytes
        self._raw_cmap = raw_cmap
        self.diff_map = diff_map

    def decode(self, raw: bytes) -> str:
        if self.cmap is None and self._raw_cmap is not None:
            self.cmap, self.code_bytes = parse_tounicode(self._raw_cmap)
            self._raw_cmap = None
        if self.cmap is None and self.diff_map is not None:
            dm = self.diff_map
            return "".join(
                _glyph_to_unicode(dm[b]) if b in dm else chr(b) for b in raw
            )
        if self.cmap is None:
            # StandardEncoding fallback ≈ latin-1 for the printable subset
            return raw.decode("latin-1", errors="replace")
        if self.code_bytes == 1:
            return "".join(self.cmap.get(b, "�") for b in raw)
        w = self.code_bytes
        out = []
        for i in range(0, len(raw) - w + 1, w):
            code = int.from_bytes(raw[i : i + w], "big")
            out.append(self.cmap.get(code, "�"))
        return "".join(out)


# ---------------------------------------------------------------------------
# Content-stream interpreter
# ---------------------------------------------------------------------------

@dataclass
class TextSpanItem:
    x: float
    y: float
    text: str
    size: float


_CS_TOKEN = re.compile(
    rb"\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>|\[|\]|/[^\s()<>\[\]{}/%]+"
    rb"|[+-]?(?:\d+\.?\d*|\.\d+)|[A-Za-z'\"*]+"
)


_OPERAND_FIRST = frozenset(b"(</+-.0123456789")


def interpret_content(
    data: bytes,
    fonts: dict[str, Font],
    xobjects: dict[str, tuple[bytes, dict[str, Font]]] | None = None,
    depth: int = 0,
) -> list[TextSpanItem]:
    """Execute the text-positioning subset; emit one item per Tj/TJ/'/".
    `Do` on a form XObject recursively interprets its content stream
    (identity /Matrix assumed; depth-capped against cycles)."""
    items: list[TextSpanItem] = []
    stack: list[object] = []
    font: Font | None = None
    size = 0.0
    leading = 0.0
    # text-space translation only (our subset uses translation matrices)
    tx = ty = 0.0  # text line matrix origin
    cx = cy = 0.0  # current cursor

    lex = _Lexer(data)

    def decode_tok(tok: bytes):
        if tok.startswith(b"("):
            inner = _Lexer(tok)
            return inner._parse_string()
        if tok.startswith(b"<"):
            inner = _Lexer(tok)
            return inner._parse_hex_string()
        if tok.startswith(b"/"):
            return tok.decode("latin-1")
        try:
            return float(tok) if b"." in tok else int(tok)
        except ValueError:
            return tok  # operator

    def show(raw: bytes):
        nonlocal items
        f = font or Font(None)
        txt = f.decode(raw)
        items.append(TextSpanItem(cx, cy, txt, size))

    in_array: list | None = None
    for m in _CS_TOKEN.finditer(data):  # inlined tokenizer (r7)
        tok = m.group()
        if tok == b"[":
            in_array = []
            continue
        if tok == b"]":
            stack.append(in_array or [])
            in_array = None
            continue
        # int first-byte dispatch (r7): same class test as
        # c0 in b"(</" or c0 in b"+-." or c0.isdigit(), no per-token slices
        is_operand = tok[0] in _OPERAND_FIRST
        if is_operand:
            val = decode_tok(tok)
            if in_array is not None:
                in_array.append(val)
            else:
                stack.append(val)
            continue
        op = tok
        if op == b"BT":
            tx = ty = cx = cy = 0.0
        elif op == b"Tf" and len(stack) >= 2:
            size = float(stack[-1])
            name = stack[-2]
            if isinstance(name, str):
                font = fonts.get(name.lstrip("/"), fonts.get(name))
        elif op == b"Td" and len(stack) >= 2:
            tx += float(stack[-2]); ty += float(stack[-1])
            cx, cy = tx, ty
        elif op == b"TD" and len(stack) >= 2:
            leading = -float(stack[-1])
            tx += float(stack[-2]); ty += float(stack[-1])
            cx, cy = tx, ty
        elif op == b"Tm" and len(stack) >= 6:
            tx, ty = float(stack[-2]), float(stack[-1])
            cx, cy = tx, ty
        elif op == b"T*":
            ty -= leading
            cx, cy = tx, ty
        elif op == b"TL" and stack:
            leading = float(stack[-1])
        elif op == b"Tj" and stack and isinstance(stack[-1], bytes):
            show(stack[-1])
        elif op == b"'" and stack and isinstance(stack[-1], bytes):
            ty -= leading
            cx, cy = tx, ty
            show(stack[-1])
        elif op == b'"' and stack and isinstance(stack[-1], bytes):
            ty -= leading
            cx, cy = tx, ty
            show(stack[-1])
        elif op == b"TJ" and stack and isinstance(stack[-1], list):
            parts = [p for p in stack[-1] if isinstance(p, bytes)]
            f = font or Font(None)
            items.append(
                TextSpanItem(cx, cy, "".join(f.decode(p) for p in parts), size)
            )
        elif op == b"Do" and stack and xobjects and depth < 8:
            name = stack[-1]
            if isinstance(name, str):
                xo = xobjects.get(name.lstrip("/"))
                if xo is not None:
                    sub_data, sub_fonts = xo
                    items.extend(
                        interpret_content(sub_data, sub_fonts, xobjects, depth + 1)
                    )
        stack.clear()
    return items


# ---------------------------------------------------------------------------
# Layout: lines + XY-cut blocks
# ---------------------------------------------------------------------------

CHAR_W = 0.5  # crude glyph aspect for bbox estimation

Y_GAP = 5.0  # whitespace larger than this splits blocks vertically
X_GAP = 20.0  # column gap threshold
LINE_TOL = 2.0


@dataclass
class Block:
    lines: list[str]
    max_size: float
    y_top: float
    x_left: float

    def text(self) -> str:
        return "\n".join(self.lines)


def _bbox(it: TextSpanItem) -> tuple[float, float, float, float]:
    return (it.x, it.y, it.x + CHAR_W * it.size * max(1, len(it.text)), it.y + it.size)


def _gaps(intervals: list[tuple[float, float]], min_gap: float) -> list[float]:
    intervals = sorted(intervals)
    merged: list[list[float]] = []
    for lo, hi in intervals:
        if merged and lo <= merged[-1][1] + min_gap:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return [m[0] for m in merged[1:]]  # cut points: start of each later run


def _xy_cut(items: list[TextSpanItem]) -> list[list[TextSpanItem]]:
    """Recursive XY-cut: prefer horizontal (y) cuts top-to-bottom, then
    vertical (x) cuts left-to-right — yields reading order directly."""
    if not items:
        return []
    boxes = [_bbox(i) for i in items]
    ycuts = _gaps([(b[1], b[3]) for b in boxes], Y_GAP)
    if ycuts:
        groups: dict[int, list[TextSpanItem]] = {}
        cuts = sorted(ycuts)
        for it, b in zip(items, boxes):
            idx = sum(1 for c in cuts if b[1] >= c)
            groups.setdefault(idx, []).append(it)
        out: list[list[TextSpanItem]] = []
        for idx in sorted(groups, reverse=True):  # top (high y) first
            out.extend(_split_x(groups[idx]))
        return out
    return _split_x(items)


def _split_x(items: list[TextSpanItem]) -> list[list[TextSpanItem]]:
    boxes = [_bbox(i) for i in items]
    xcuts = _gaps([(b[0], b[2]) for b in boxes], X_GAP)
    if not xcuts:
        return [items]
    cuts = sorted(xcuts)
    groups: dict[int, list[TextSpanItem]] = {}
    for it, b in zip(items, boxes):
        idx = sum(1 for c in cuts if b[0] >= c)
        groups.setdefault(idx, []).append(it)
    out: list[list[TextSpanItem]] = []
    for idx in sorted(groups):  # left first
        sub = groups[idx]
        # within a column, recurse on y with a finer tolerance? single level:
        out.extend(_xy_cut_y_only(sub))
    return out


def _xy_cut_y_only(items: list[TextSpanItem]) -> list[list[TextSpanItem]]:
    boxes = [_bbox(i) for i in items]
    ycuts = _gaps([(b[1], b[3]) for b in boxes], Y_GAP)
    if not ycuts:
        return [items]
    cuts = sorted(ycuts)
    groups: dict[int, list[TextSpanItem]] = {}
    for it, b in zip(items, boxes):
        idx = sum(1 for c in cuts if b[1] >= c)
        groups.setdefault(idx, []).append(it)
    return [groups[i] for i in sorted(groups, reverse=True)]


def _to_block(items: list[TextSpanItem]) -> Block:
    by_line: dict[float, list[TextSpanItem]] = {}
    for it in items:
        key = next((k for k in by_line if abs(k - it.y) <= LINE_TOL), it.y)
        by_line.setdefault(key, []).append(it)
    lines = []
    for y in sorted(by_line, reverse=True):
        row = sorted(by_line[y], key=lambda i: i.x)
        lines.append(" ".join(i.text for i in row))
    return Block(
        lines=lines,
        max_size=max(i.size for i in items),
        y_top=max(i.y for i in items),
        x_left=min(i.x for i in items),
    )


@dataclass
class ParsedPage:
    index: int  # 0-based (stored 1-based downstream, /root/reference/CLAUDE.md:534)
    rotation: int
    blocks: list[Block] = field(default_factory=list)


def _is_cjk_char(ch: str) -> bool:
    o = ord(ch)
    return (
        0x2E80 <= o <= 0x9FFF  # radicals, kana, CJK unified
        or 0xF900 <= o <= 0xFAFF  # compatibility ideographs
        or 0xFF00 <= o <= 0xFFEF  # fullwidth forms
    )


def _merge_vertical_runs(items: list[TextSpanItem]) -> list[TextSpanItem]:
    """Vertical-writing recovery (Identity-V CJK): a column of ≥3
    consecutive SINGLE-CJK-glyph show operations sharing an x position
    with a uniform downward step is one vertical line read top-to-bottom —
    merge it into a single item so XY-cut doesn't shred it into one block
    per glyph. Latin text and multi-char show ops are never touched."""
    cols: dict[int, list[int]] = {}
    for idx, it in enumerate(items):
        if len(it.text) == 1 and _is_cjk_char(it.text):
            cols.setdefault(int(round(it.x / LINE_TOL)), []).append(idx)
    if not cols:
        return items
    merged_away: set[int] = set()
    replacements: dict[int, TextSpanItem] = {}

    def flush(run: list[int]) -> None:
        if len(run) >= 3:
            top = items[run[0]]
            replacements[run[0]] = TextSpanItem(
                top.x,
                top.y,
                "".join(items[i].text for i in run),
                max(items[i].size for i in run),
            )
            merged_away.update(run[1:])

    for idxs in cols.values():
        idxs.sort(key=lambda i: -items[i].y)
        run = [idxs[0]]
        for a, b in zip(idxs, idxs[1:]):
            step = items[a].y - items[b].y
            if 0 < step <= items[a].size * 1.8:
                run.append(b)
            else:
                flush(run)
                run = [b]
        flush(run)
    if not replacements:
        return items
    return [
        replacements.get(i, it)
        for i, it in enumerate(items)
        if i not in merged_away
    ]


def _rotate_items(items: list[TextSpanItem], rotation: int) -> list[TextSpanItem]:
    """Reading-order transform for /Rotate 90|270 pages (deterministic
    replacement for the reference's vision path on landscape pages)."""
    if rotation == 90:
        return [TextSpanItem(i.y, -i.x, i.text, i.size) for i in items]
    if rotation == 270:
        return [TextSpanItem(-i.y, i.x, i.text, i.size) for i in items]
    return items


def parse_pdf(data: bytes, password: bytes = b"") -> list[ParsedPage]:
    """bytes → pages of reading-ordered text blocks. ``password`` opens
    user- or owner-password-protected files (empty-user files always open
    transparently, matching fitz.open's behavior in the reference)."""
    doc = PdfDocument(data, password)
    pages: list[ParsedPage] = []
    font_cache: dict[int, Font] = {}  # CMaps parsed once per font object

    def build_fonts(res: dict) -> dict[str, Font]:
        fonts: dict[str, Font] = {}
        fdict = doc.resolve(res.get("/Font")) or {}
        for name, fref in fdict.items():
            key = int(fref) if isinstance(fref, Ref) else id(fref)
            if key not in font_cache:
                fobj = doc.resolve(fref)
                raw_cmap = None
                diff_map = None
                if isinstance(fobj, dict) and "/ToUnicode" in fobj:
                    cm = doc.resolve(fobj["/ToUnicode"])
                    if isinstance(cm, _Stream):
                        raw_cmap = doc.stream_data(cm)
                if isinstance(fobj, dict) and raw_cmap is None:
                    # simple-font /Encoding /Differences (the Type3 path —
                    # Type3 fonts have no implicit base encoding)
                    enc = doc.resolve(fobj.get("/Encoding"))
                    diffs = (
                        doc.resolve(enc.get("/Differences"))
                        if isinstance(enc, dict)
                        else None
                    )
                    if isinstance(diffs, list):
                        diff_map = {}
                        code = 0
                        for item in diffs:
                            if isinstance(item, (int, float)):
                                code = int(item)
                            elif isinstance(item, str) and item.startswith("/"):
                                diff_map[code] = item[1:]
                                code += 1
                font_cache[key] = Font(raw_cmap=raw_cmap, diff_map=diff_map)
            fonts[name.lstrip("/")] = font_cache[key]
        return fonts

    for idx, pdict in enumerate(doc.pages()):
        rotation = int(doc.resolve(pdict.get("/Rotate")) or 0) % 360
        res = doc.resolve(pdict.get("/Resources")) or {}
        fonts = build_fonts(res)
        # form XObjects: name → (decoded stream, its fonts or the page's)
        xobjects: dict[str, tuple[bytes, dict[str, Font]]] = {}
        xdict = doc.resolve(res.get("/XObject")) or {}
        for name, xref in xdict.items():
            xo = doc.resolve(xref)
            if (
                isinstance(xo, _Stream)
                and xo.dict.get("/Subtype") == "/Form"
            ):
                xres = doc.resolve(xo.dict.get("/Resources"))
                xfonts = build_fonts(xres) if isinstance(xres, dict) else fonts
                try:
                    xobjects[name.lstrip("/")] = (doc.stream_data(xo), xfonts)
                except Exception:
                    continue
        contents = doc.resolve(pdict.get("/Contents"))
        streams = contents if isinstance(contents, list) else [contents]
        data_parts = []
        for s in streams:
            s = doc.resolve(s)
            if isinstance(s, _Stream):
                data_parts.append(doc.stream_data(s))
        items = interpret_content(b"\n".join(data_parts), fonts, xobjects)
        items = _rotate_items(items, rotation)
        items = _merge_vertical_runs(items)
        blocks = [_to_block(g) for g in _xy_cut(items) if g]
        pages.append(ParsedPage(index=idx, rotation=rotation, blocks=blocks))
    return pages


def is_pdf(data: bytes) -> bool:
    """Magic-byte router predicate (two-path union U1; reference routing
    analog /root/reference/src/ingest.py:150-207)."""
    return data[:5] == b"%PDF-"
