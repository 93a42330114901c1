"""Assembly semantics pinned against the reference implementation.

Mirrors /root/reference/tests/test_ingest.py (boilerplate behavior test
:24-43, sku/meta derivation :10-22) plus the semantics-bearing lines in
src/ingest.py — each test names its reference citation.
"""

from pdf_parser_benchmark_spark.extract.assemble import (
    Chunk,
    assemble,
    boilerplate_lines,
    extract_document,
    infer_chunk_type,
    source_stem,
    strip_boilerplate_text,
)
from pdf_parser_benchmark_spark.synth.pdf_writer import build_pdf, lines_page
from pdf_parser_benchmark_spark.extract.assemble import pdf_pages_to_chunks
from pdf_parser_benchmark_spark.extract.pdf_parser import parse_pdf


# --- boilerplate rule (CLAUDE.md:195-211; tests/test_ingest.py:24-43) ------

def test_boilerplate_removal_mirror_of_reference_test():
    """10 pages with repeated header+footer: both stripped, content kept."""
    pages = [
        f"HEADER LINE REPEATED\nPage {i} content here\nFOOTER REPEATED"
        for i in range(10)
    ]
    boiler = boilerplate_lines(pages)
    assert boiler == {"HEADER LINE REPEATED", "FOOTER REPEATED"}
    for i, t in enumerate(pages):
        clean = strip_boilerplate_text(t, boiler)
        assert "HEADER LINE REPEATED" not in clean
        assert "FOOTER REPEATED" not in clean
        assert "content here" in clean


def test_boilerplate_threshold_strictly_greater():
    """Line on exactly 40% of pages is KEPT (rule is count > n*0.4)."""
    pages = [f"EDGE\nbody {i}" for i in range(4)] + [f"only {i}" for i in range(6)]
    assert boilerplate_lines(pages) == set()  # 4 == 10*0.4, not >
    pages5 = [f"EDGE\nbody {i}" for i in range(5)] + [f"only {i}" for i in range(5)]
    assert boilerplate_lines(pages5) == {"EDGE"}


def test_boilerplate_length_guard_strictly_less():
    long_line = "L" * 100
    short_line = "S" * 99
    pages = [f"{long_line}\n{short_line}\nunique {i}" for i in range(10)]
    assert boilerplate_lines(pages) == {short_line}


def test_boilerplate_counts_occurrences_not_pages():
    """Reference counts every occurrence (Counter over all lines)."""
    pages = ["X\nX\nX\nX\nX", "a", "b", "c", "d", "e", "f", "g", "h", "i"]
    # X occurs 5 times on one page of 10 → 5 > 4 → boilerplate
    assert boilerplate_lines(pages) == {"X"}


# --- chunk typing (ingest.py:32-39,118-124) --------------------------------

def test_chunk_type_ordered_map():
    assert infer_chunk_type("header") == "title"
    assert infer_chunk_type("Sub-Header") == "title"
    assert infer_chunk_type("para") == "body_text"
    assert infer_chunk_type("list_item") == "list"
    assert infer_chunk_type("table") == "table"
    # order is semantic: 'table_row' contains 'table' → hits table first
    assert infer_chunk_type("table_row") == "table"
    assert infer_chunk_type("") == "body_text"
    assert infer_chunk_type("unknown_tag") == "body_text"


# --- reproducible id (ingest.py:66-69) -------------------------------------

def test_repro_regex(spark):
    from pdf_parser_benchmark_spark.functions.text import reproducible_id

    cases = {
        "see Reproducible 4.3 here": "4.3",
        "reproducible 7B attached": "7B",
        "Reproducible 12": "12",
        "no marker": "",
    }
    df = spark.createDataFrame([(t,) for t in cases], "t string")
    got = {r["t"]: r["id"] for r in df.select("t", reproducible_id(df["t"]).alias("id")).collect()}
    assert got == cases


# --- chapter/section propagation (ingest.py:167-205) -----------------------

def test_hierarchy_propagation_with_reset():
    chunks = [
        Chunk(1, "header", 1, "Chapter One"),
        Chunk(1, "para", None, "p1"),
        Chunk(1, "header", 2, "Section A"),
        Chunk(1, "para", None, "p2"),
        Chunk(2, "header", None, "Chapter Two"),  # level None → chapter
        Chunk(2, "para", None, "p3"),
    ]
    rec = assemble("u", chunks, parser="test")
    spans = rec["spans"]
    assert [(s["chapter"], s["section"]) for s in spans] == [
        ("Chapter One", None),
        ("Chapter One", None),
        ("Chapter One", "Section A"),
        ("Chapter One", "Section A"),
        ("Chapter Two", None),  # section RESET on new chapter
        ("Chapter Two", None),
    ]
    assert [s["kind"] for s in spans] == [
        "title", "body_text", "title", "body_text", "title", "body_text",
    ]


def test_empty_chunks_dropped_and_spans_offsets():
    chunks = [
        Chunk(1, "para", None, "  hello  "),
        Chunk(1, "para", None, "   "),  # dropped (ingest.py:180-183)
        Chunk(2, "para", None, "world"),
    ]
    rec = assemble("u", chunks, parser="test")
    assert rec["text"] == "hello\nworld"
    assert [(s["start"], s["end"]) for s in rec["spans"]] == [(0, 5), (6, 11)]
    assert rec["meta"]["chunk_count"] == 2


# --- PDF path: landscape-first ordering (ingest.py:150-176) ----------------

def test_pdf_reproducible_pages_first_and_skipped_in_layout():
    pdf = build_pdf(
        [
            lines_page(["normal page one"], header="HDR", footer="FTR"),
            lines_page(["Reproducible 4.3", "worksheet body"], rotate=90),
            lines_page(["normal page two"], header="HDR", footer="FTR"),
        ]
    )
    chunks = pdf_pages_to_chunks(parse_pdf(pdf))
    assert chunks[0].tag == "reproducible" and chunks[0].page == 2
    assert "Reproducible 4.3" in chunks[0].text
    # layout chunks cover only non-rotated pages
    assert all(c.page != 2 for c in chunks[1:])


def test_source_stem():
    assert source_stem("https://host0.example/p/00000001.html") == "00000001"
    assert source_stem("https://h.example/a/b/doc.pdf") == "doc"


def test_extract_document_routing():
    html = b"<main><p>hello world prose</p></main>"
    rec = extract_document("https://x.example/a.html", html)
    assert rec["meta"]["parser"] == "html"
    pdf = build_pdf([lines_page(["pdf body"])])
    rec2 = extract_document("https://x.example/a.pdf", pdf)
    assert rec2["meta"]["parser"] == "pdf"
    assert rec2["text"] == "pdf body"


def test_charset_sniffing():
    from pdf_parser_benchmark_spark.extract.assemble import decode_html_payload

    latin = '<meta charset="iso-8859-1"><main><p>café münchen</p></main>'.encode(
        "iso-8859-1"
    )
    assert "café münchen" in decode_html_payload(latin)
    bom_utf16 = "﻿<main><p>héllo</p></main>".encode("utf-16-le")
    # BOM prefix: utf-16-le BOM is FF FE
    assert "héllo" in decode_html_payload(bom_utf16)
    plain = "<main><p>plain utf-8 é</p></main>".encode("utf-8")
    assert "é" in decode_html_payload(plain)
    bad = b'<meta charset="no-such-enc"><p>fallback</p>'
    assert "fallback" in decode_html_payload(bad)


def test_charset_extraction_end_to_end():
    latin = (
        '<meta charset="iso-8859-1"><main><p>café content here today</p></main>'
    ).encode("iso-8859-1")
    rec = extract_document("https://h.example/x.html", latin)
    assert rec["text"] == "café content here today"
