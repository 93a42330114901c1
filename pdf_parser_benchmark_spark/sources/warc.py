"""From-scratch WARC source (ISO 28500 subset): .warc / .warc.gz files →
the pages input table (url, warc_ts, html, text, lang).

This is the missing first hop of the Common-Crawl story: CC ships crawl
data as WARC files whose records are independent gzip members. The reader
is a distributed binaryFile scan + an Arrow-batched record splitter:

    spark.read.format("binaryFile").load(glob)       # one row per file
      → mapInPandas(_split_records)                  # N response rows each

Task granularity is file-level (WARC files are ~1 GB in CC; thousands of
files ⇒ thousands of tasks — the same zero-shuffle scaling story as the
pages table). Record parsing is tolerant: malformed records are skipped
and counted, never fatal.
"""

from __future__ import annotations

import io
import zlib
from datetime import datetime
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ..synth.pages import PAGES_SCHEMA

_GZIP_MAGIC = b"\x1f\x8b"
_WINDOW = 64 * 1024  # compressed bytes fed to zlib per decompress call


def _gzip_members(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """(offset, length, plain bytes) per gzip member, in one linear pass:
    each member's decompressor is fed fixed-size memoryview windows until
    its eof, then the position steps back by len(unused_data), so no call
    copies the rest of the file. A truncated last member yields its partial
    output and runs to the end of the data; a non-gzip tail ends the loop;
    zlib errors propagate."""
    view, pos, n = memoryview(data), 0, len(data)
    while pos < n and data[pos : pos + 2] == _GZIP_MAGIC:
        d = zlib.decompressobj(wbits=47)
        out, end = [], pos
        while not d.eof and end < n:
            out.append(d.decompress(view[end : end + _WINDOW]))
            end = min(end + _WINDOW, n)
        end -= len(d.unused_data)
        yield pos, end - pos, b"".join(out)
        pos = end


def split_gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress a stream of concatenated gzip members one member at a
    time (the CC per-record framing)."""
    return (plain for _, _, plain in _gzip_members(data))


def iter_warc_records(data: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (header dict, payload bytes) per record from plain WARC bytes.
    Handles the version line, header block, Content-Length framing, and the
    two-CRLF record separator."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record padding
        while pos < n and data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if not data.startswith(b"WARC/", pos):
            break
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            break
        headers: dict[str, str] = {}
        for line in data[pos:hdr_end].split(b"\r\n")[1:]:
            if b":" in line:
                k, v = line.split(b":", 1)
                headers[k.strip().decode("latin-1").lower()] = v.strip().decode(
                    "latin-1"
                )
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            break
        body_start = hdr_end + 4
        payload = data[body_start : body_start + length]
        yield headers, payload
        pos = body_start + length


def _strip_http_headers(payload: bytes) -> bytes:
    """response records embed the HTTP response; the body follows the first
    blank line."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0 or not payload[:5] in (b"HTTP/",):
        return payload
    return payload[sep + 4 :]


def _warc_ts(headers: dict) -> datetime | None:
    raw_ts = headers.get("warc-date")
    if raw_ts:
        try:
            return datetime.strptime(raw_ts, "%Y-%m-%dT%H:%M:%SZ")
        except ValueError:
            return None
    return None


def _page_rows(plain: bytes) -> list[dict]:
    """Plain WARC bytes → one pages-schema row per response record that
    names its target uri; every other record is skipped."""
    rows: list[dict] = []
    for headers, payload in iter_warc_records(plain):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        rows.append({
            "url": url, "warc_ts": _warc_ts(headers),
            "html": _strip_http_headers(payload), "text": None, "lang": None,
        })
    return rows


def parse_warc_file(data: bytes) -> list[dict]:
    """One WARC file (plain or per-record-gzip) → pages-schema row dicts."""
    if data[:2] == _GZIP_MAGIC:
        data = b"".join(split_gzip_members(data))
    return _page_rows(data)


def build_member_index(data: bytes) -> list[tuple[int, int]]:
    """cdx-style member index for a per-record-gzip WARC: (offset, length)
    per gzip member. Common Crawl publishes exactly this in its cdx/cluster
    indexes; building it needs one sequential pass (the plain bytes are
    discarded, only boundaries kept) — at scale you read the published index instead."""
    return [(off, ln) for off, ln, _ in _gzip_members(data)]


def read_warc_pages_split(
    spark: SparkSession,
    path: str,
    index: list[tuple[int, int]] | None = None,
    n_groups: int | None = None,
) -> DataFrame:
    """Member-offset-split ingestion of ONE large .warc.gz: the file's gzip
    members are partitioned into ``n_groups`` offset ranges and each task
    seeks+reads only its ranges — a 1 GB CC file becomes N parallel tasks
    instead of one (the file-granularity ceiling of read_warc_pages).

    ``index`` is the cdx-style (offset, length) list; if omitted it is built
    driver-side with one sequential pass (build_member_index)."""
    import pandas as pd

    if index is None:
        with open(path, "rb") as f:
            index = build_member_index(f.read())
    n_groups = n_groups or spark.sparkContext.defaultParallelism
    n_groups = max(1, min(n_groups, len(index) or 1))
    rows = [
        {"path": path, "offset": off, "length": ln, "grp": i % n_groups}
        for i, (off, ln) in enumerate(index)
    ]
    # range partitioning: one group per partition (hash would collide groups)
    ranges = spark.createDataFrame(
        rows, "path string, offset long, length long, grp int"
    ).repartitionByRange(n_groups, "grp")

    def read_ranges(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for b in batches:
            out: list[dict] = []
            for p in b["path"].unique():
                sub = b[b["path"] == p].sort_values("offset")
                try:
                    with open(p, "rb") as f:
                        for off, ln in zip(sub["offset"], sub["length"]):
                            f.seek(int(off))
                            raw = f.read(int(ln))
                            try:
                                plain = b"".join(split_gzip_members(raw))
                            except Exception:
                                continue  # malformed member: skip, never fatal
                            out.extend(_page_rows(plain))
                except OSError:
                    continue
            yield pd.DataFrame(
                out, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return ranges.mapInPandas(read_ranges, schema=PAGES_SCHEMA)


def read_warc_pages(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed WARC ingestion → pages table."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path_glob).select("content")

    def split(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for b in batches:
            out: list[dict] = []
            for content in b["content"]:
                try:
                    out.extend(parse_warc_file(bytes(content)))
                except Exception:
                    continue  # malformed file: skip, never fatal
            yield pd.DataFrame(
                out,
                columns=["url", "warc_ts", "html", "text", "lang"],
            )

    return files.mapInPandas(split, schema=PAGES_SCHEMA)
