"""Minimal WARC 1.0 *writer* (ISO 28500 subset) — fixture ground truth for
the from-scratch WARC source (sources/warc.py), mirroring how the PDF
writer grounds the PDF parser.

Emits `response` records with embedded HTTP/1.1 response headers (the
Common Crawl layout) and supports the two real-world framings: plain
concatenated records, and per-record gzip members concatenated into one
.warc.gz stream (the CC convention — each record is an independent gzip
member so readers can split work without decompressing the whole file).
"""

from __future__ import annotations

import gzip
from datetime import datetime


def _http_block(body: bytes, content_type: str) -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\n"
        + b"Content-Type: " + content_type.encode("ascii") + b"\r\n"
        + b"Content-Length: " + str(len(body)).encode("ascii") + b"\r\n"
        + b"\r\n"
        + body
    )


def warc_response_record(
    url: str, body: bytes, ts: datetime, content_type: str = "text/html"
) -> bytes:
    payload = _http_block(body, content_type)
    headers = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        + b"WARC-Target-URI: " + url.encode("ascii") + b"\r\n"
        + b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode("ascii") + b"\r\n"
        + b"Content-Type: application/http; msgtype=response\r\n"
        + b"Content-Length: " + str(len(payload)).encode("ascii") + b"\r\n"
        + b"\r\n"
    )
    return headers + payload + b"\r\n\r\n"


def warcinfo_record(ts: datetime) -> bytes:
    body = b"software: pdf_parser_benchmark_spark synth warc writer\r\n"
    return (
        b"WARC/1.0\r\n"
        b"WARC-Type: warcinfo\r\n"
        + b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode("ascii") + b"\r\n"
        + b"Content-Type: application/warc-fields\r\n"
        + b"Content-Length: " + str(len(body)).encode("ascii") + b"\r\n"
        + b"\r\n"
        + body
        + b"\r\n\r\n"
    )


def build_warc(
    rows: list[dict], gzip_members: bool = False
) -> bytes:
    """rows: dicts with url, html (bytes), warc_ts (datetime). The first
    record is a warcinfo (readers must skip non-response records)."""
    records = [warcinfo_record(rows[0]["warc_ts"] if rows else datetime(2026, 1, 1))]
    for r in rows:
        ctype = (
            "application/pdf" if r["html"][:5] == b"%PDF-" else "text/html"
        )
        records.append(
            warc_response_record(r["url"], bytes(r["html"]), r["warc_ts"], ctype)
        )
    if not gzip_members:
        return b"".join(records)
    # CC-style: each record its own gzip member, members concatenated
    return b"".join(
        gzip.compress(rec, compresslevel=6, mtime=0) for rec in records
    )
