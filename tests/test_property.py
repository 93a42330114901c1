"""Property-based tests (hypothesis): the extractors never crash on
arbitrary input, determinism holds, and the pinned reference rules match an
independent brute-force restatement on random inputs."""

from collections import Counter

from hypothesis import example, given, settings, strategies as st

from pdf_parser_benchmark_spark.canonical import canonical_json
from pdf_parser_benchmark_spark.extract.assemble import (
    boilerplate_lines,
    extract_document_json,
    strip_boilerplate_text,
)
from pdf_parser_benchmark_spark.extract.html_extractor import parse_html_blocks
from pdf_parser_benchmark_spark.extract.pdf_parser import parse_pdf
from pdf_parser_benchmark_spark.synth.pdf_writer import (
    F2_CMAP,
    build_pdf,
    lines_page,
)

line_text = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\n\r\x00"),
    max_size=120,
)


@given(st.lists(st.lists(line_text, max_size=8), min_size=1, max_size=12))
@settings(max_examples=60, deadline=None)
def test_boilerplate_rule_matches_bruteforce(pages_lines):
    """Operator rule == independent restatement of CLAUDE.md:195-211."""
    pages = ["\n".join(lines) for lines in pages_lines]
    got = boilerplate_lines(pages)
    counts = Counter(
        ln.strip() for t in pages for ln in t.splitlines() if ln.strip()
    )
    expected = {
        ln for ln, c in counts.items() if c > len(pages) * 0.4 and len(ln) < 100
    }
    assert got == expected
    for t in pages:
        clean = strip_boilerplate_text(t, got)
        assert all(ln.strip() not in got for ln in clean.splitlines())


@given(st.text(max_size=400))
@settings(max_examples=60, deadline=None)
def test_html_extractor_never_crashes(raw):
    blocks = parse_html_blocks(raw)
    assert all(b.text for b in blocks)


@given(st.binary(max_size=400))
@settings(max_examples=60, deadline=None)
def test_extract_document_total_on_garbage(payload):
    """Any byte string produces a canonical record or a caught error path —
    here: direct call must not crash on non-PDF garbage (PDF-magic inputs
    may raise; the pipeline catches those per row)."""
    if payload[:5] == b"%PDF-":
        return
    out = extract_document_json("https://h.example/x", payload)
    assert out.endswith("\n")


_f2_chars = st.sampled_from(sorted(set(F2_CMAP.values()) - set("\\()\n\r\t")))
_f1_chars = st.characters(codec="ascii", min_codepoint=0x20, max_codepoint=0x7E)


def _pdf_line(chars):
    return st.text(alphabet=chars, min_size=1, max_size=60).map(str.strip).filter(bool)


@given(st.booleans(), st.booleans(), st.booleans(), st.data())
@settings(max_examples=40, deadline=None)
def test_pdf_writer_parser_roundtrip_random_text(compress, tj, f2, data):
    # F1 (Helvetica/StandardEncoding) carries ASCII; F2's CMap also carries
    # the mapped non-ASCII codepoints
    lines = data.draw(
        st.lists(_pdf_line(_f2_chars if f2 else _f1_chars), min_size=1, max_size=6)
    )
    pdf = build_pdf(
        [lines_page(lines, compress=compress, use_tj_array=tj,
                    font="F2" if f2 else "F1")]
    )
    page = parse_pdf(pdf)[0]
    got_lines = [ln for b in page.blocks for ln in b.lines]
    assert got_lines == lines


@given(st.recursive(
    st.none() | st.booleans() | st.integers(-10**9, 10**9) | st.text(max_size=20),
    lambda children: st.lists(children, max_size=4)
    | st.dictionaries(st.text(max_size=8), children, max_size=4),
    max_leaves=20,
))
@settings(max_examples=60, deadline=None)
def test_canonical_json_stable_and_parseable(obj):
    import json

    a = canonical_json(obj)
    assert a == canonical_json(obj)
    assert json.loads(a) == obj


_table_dirs = st.sampled_from(["x=1", "x=2", "y=a", "_temporary", ".staging"])
_table_files = st.sampled_from(
    ["part-0.parquet", "part-1.parquet", "_SUCCESS", "_metadata",
     ".part-0.parquet.crc"]
)


@given(st.dictionaries(
    st.tuples(st.lists(_table_dirs, max_size=3).map(tuple), _table_files),
    st.integers(0, 300),
    max_size=12,
))
@example({(("x=1",), "part-0.parquet"): 100, (("x=2",), "part-0.parquet"): 50,
          ((), "_SUCCESS"): 0})
@settings(max_examples=40, deadline=None)
def test_parquet_disk_bytes_walks_nested_table(tree):
    """A partitioned table (orders.parquet/x=1/part-*.parquet) weighs the
    bytes of every data file under it; entries starting with '.' or '_'
    are skipped at every level, like Spark's file index skips them."""
    import os
    import tempfile

    from pdf_parser_benchmark_spark.queries import _parquet_disk_bytes

    with tempfile.TemporaryDirectory() as sf_dir:
        root = os.path.join(sf_dir, "orders.parquet")
        os.makedirs(root)
        for (dirs, name), size in tree.items():
            d = os.path.join(root, *dirs)
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, name), "wb") as f:
                f.write(b"\0" * size)
        expected = sum(
            size for (dirs, name), size in tree.items()
            if not any(part.startswith((".", "_")) for part in (*dirs, name))
        )
        assert _parquet_disk_bytes(sf_dir, "orders") == expected


def test_table_plan_memo_replaces_rewritten_table(spark, tmp_path, monkeypatch):
    """The testdata plan memo holds one plan per table path: rewriting the
    table replaces its entry (no growth per rewrite), and the returned plan
    reads the new file, not the old one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_benchmark_spark import queries

    monkeypatch.setattr(queries, "_TABLE_PLANS", {})
    path = tmp_path / "events.parquet"
    pq.write_table(pa.table({"v": [1, 2, 3]}), path)
    assert queries._t(spark, str(tmp_path), "events").count() == 3

    pq.write_table(pa.table({"v": [10, 20, 30, 40, 50]}), path)
    df = queries._t(spark, str(tmp_path), "events")
    assert len(queries._TABLE_PLANS) == 1
    assert sorted(r["v"] for r in df.collect()) == [10, 20, 30, 40, 50]
