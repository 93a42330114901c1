"""The gzip member loop of `sources/warc.py` reads each file in linear time:
no `decompress` call is handed more than one fixed window of compressed
bytes, and the members and the cdx-style index are exactly what the former
whole-rest-of-file loop produced."""

import zlib

from pdf_parser_benchmark_spark.sources import warc
from pdf_parser_benchmark_spark.synth.pages import generate_pages_local
from pdf_parser_benchmark_spark.synth.warc_writer import build_warc

WINDOW = 64 * 1024  # the compressed bytes one decompress call may receive


def _rest_of_file_members(data: bytes):
    """The former loop: every member's decompressor gets data[pos:], the
    whole rest of the file (O(members × bytes) per file)."""
    members, index, pos = [], [], 0
    while pos < len(data) and data[pos : pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=47)
        members.append(d.decompress(data[pos:]))
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        index.append((pos, consumed))
        pos += consumed
    return members, index


def test_member_loop_feeds_bounded_windows(monkeypatch):
    data = build_warc(generate_pages_local(1000), gzip_members=True)
    assert len(data) > 8 * WINDOW
    # a truncated last member and a non-gzip tail end the loop as before
    cases = [data, data[:-37], data + b"not gzip"]
    want = [_rest_of_file_members(d) for d in cases]
    assert len(want[0][1]) == 1001

    fed = []
    real = zlib.decompressobj

    class Recording:
        def __init__(self, *a, **kw):
            self._d = real(*a, **kw)

        def decompress(self, buf):
            fed.append(len(buf))
            return self._d.decompress(buf)

        def __getattr__(self, name):
            return getattr(self._d, name)

    monkeypatch.setattr(warc.zlib, "decompressobj", Recording)
    for d, (members, index) in zip(cases, want):
        assert list(warc.split_gzip_members(d)) == members
        assert warc.build_member_index(d) == index
    assert fed and max(fed) <= WINDOW
